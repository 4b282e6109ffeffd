"""Streaming dead-letter quarantine.

The stream twin of q_json_quarantine_rows: each micro-batch parse-or-
null routes its rows, quarantined rows append to a durable side store
(set union — order-independent, so no mtime pinning needed), good rows
would flow on to the aggregate sink. After the drain the quarantine
store holds exactly the rows the batch router flags over the whole
log — the oracle. This is the dead-letter lane as it actually runs in
production: per-trigger routing with a replayable quarantine table,
not a post-hoc scan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from ..streaming.replay import drain, replay
from .registry import register

_CORRUPT = "event_id % 7 = 0"


@register(
    "stream_json_quarantine",
    f"""
    WITH c AS (
      SELECT event_id, event_type,
             CASE WHEN {_CORRUPT} THEN '{{' || props ELSE props END
               AS props
      FROM events
    )
    SELECT event_id, event_type FROM c
    WHERE NOT json_valid(props)
       OR (CASE WHEN json_valid(props)
                THEN CAST(props->>'k' AS BIGINT) END) IS NULL
    """,
    doc="streaming dead-letter lane: per micro-batch parse-or-null "
    "routing appends quarantined rows to a side store (set union — "
    "batching-independent); the drained store hash-equals the batch "
    "router's quarantine set over the whole log",
)
def stream_json_quarantine(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    state = {
        "q": spark.createDataFrame(
            [], "event_id long, event_type string"
        ).localCheckpoint()
    }

    def handle(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        inj = batch_df.select(
            "event_id",
            "event_type",
            F.when(
                F.expr(_CORRUPT), F.concat(F.lit("{"), F.col("props"))
            )
            .otherwise(F.col("props"))
            .alias("props"),
        )
        dead = inj.where(
            F.get_json_object("props", "$.k").cast("long").isNull()
        ).select("event_id", "event_type")
        state["q"] = (
            state["q"].unionByName(dead).localCheckpoint()
        )

    src = events.select("event_id", "event_type", "props").localCheckpoint()
    batches = [src.where(f"event_id % 3 = {i}") for i in range(3)]
    with replay(spark, batches) as r:
        drain(r.stream, handle)
    return state["q"]
