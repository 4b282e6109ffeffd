"""Watermark-TTL streaming dedup.

`dropDuplicatesWithinWatermark` (Spark 3.5+) is the production answer
to unbounded dedup state: duplicates of a key are dropped while its
state lives, and the watermark evicts state older than the delay — at
100 TB/day ingest the state is bounded by delay × arrival rate instead
of growing forever (the plain dropDuplicates failure mode).

Oracle determinism: WITHIN one micro-batch the operator keeps an
arbitrary duplicate, so the feed is constructed with AT MOST ONE row
per (key, batch) — each user's min-(ts, event_id) event within the
event_id%3 subfeed — and duplicates only ACROSS batches. The kept row
is then exactly the row from the user's earliest subfeed, which the
oracle computes with two window ranks. The watermark delay (90 days)
exceeds the 30-day feed span, so no state evicts mid-feed and the
kept-set is batching-deterministic while the real watermark + TTL
plumbing runs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from ..streaming.replay import drain, replay
from .registry import register

_ORACLE = """
    WITH wmd_sub AS (
      SELECT user_id, event_type, ts, event_id,
             event_id % 3 AS b,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_id % 3
               ORDER BY ts, event_id) AS rn_in_sub
      FROM events
    ), wmd_feed AS (
      SELECT user_id, event_type, ts, event_id, b,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY b)
               AS rn_over_subs
      FROM wmd_sub WHERE rn_in_sub = 1
    )
    SELECT user_id, event_type,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           event_id, CAST(b AS BIGINT) AS first_seen_batch
    FROM wmd_feed WHERE rn_over_subs = 1
    """


@register(
    "stream_dedup_within_watermark",
    _ORACLE,
    doc="watermark-TTL streaming dedup (dropDuplicatesWithinWatermark): "
    "per-key state bounded by the watermark delay instead of growing "
    "forever; feed has one row per (key, micro-batch) so the kept row "
    "is deterministically the key's earliest batch — the oracle's "
    "two-rank window over the same construction",
)
def stream_dedup_within_watermark(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id", F.expr("event_id % 3")).orderBy(
        "ts", "event_id"
    )
    feed = (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            (F.col("event_id") % 3).alias("b"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .drop("_rn")
    )
    state = {
        "kept": spark.createDataFrame(
            [],
            "user_id long, event_type string, ts timestamp, "
            "event_id long, b long",
        ).localCheckpoint()
    }

    def handle(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        state["kept"] = (
            state["kept"].unionByName(batch_df).localCheckpoint()
        )

    src = feed.localCheckpoint()
    with replay(spark, [src.where(f"b = {i}") for i in range(3)]) as r:
        deduped = r.stream.withWatermark(
            "ts", "90 days"
        ).dropDuplicatesWithinWatermark(["user_id"])
        drain(deduped, handle)
    return state["kept"].select(
        "user_id",
        "event_type",
        F.unix_micros("ts").cast("long").alias("ts_us"),
        "event_id",
        F.col("b").cast("long").alias("first_seen_batch"),
    )
