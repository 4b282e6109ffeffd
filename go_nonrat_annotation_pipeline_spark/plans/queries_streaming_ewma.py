"""Streaming EWMA maintenance.

The incremental form of ``q_ewma_daily``: events arrive in
micro-batches and the sufficient statistic for the smoother — the
per-(type, day) count table — is ADDITIVE, so the state folds exactly
(union + groupBy-sum per trigger) and stays calendar-bounded (types ×
days, never event-sized). The EWMA itself is a READ-TIME derivation
over the final state: densify the day grid, apply the dyadic lag
window — recomputing the smoother per trigger would be wasted work
(only the last K days of a series can change a tail value), and
deriving from the folded state keeps the result hash-equal to the
one-shot batch computation. The oracle is q_ewma_daily's SQL verbatim.

Arrival order is deliberately ADVERSARIAL for a time-series operator:
batches split by event_id % 3, so every batch touches EVERY day —
late/out-of-order daily data folds correctly because counts commute,
which is exactly the property that makes this maintainable without
watermark bookkeeping.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..sources.testdata import load_table
from ..streaming.replay import drain, replay
from .queries_timeseries2 import _EW_HI, _EW_LO, _K
from .registry import register


def _ewma_from_counts(spark, cnt):
    """Densify + dyadic lag smoother over a (event_type, d, c) count
    frame — the exact read-time tail of q_ewma_daily."""
    days = cnt.select("d").distinct()
    types = cnt.select("event_type").distinct()
    dense = (
        types.crossJoin(days)
        .join(cnt, ["event_type", "d"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)).cast("long"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    ewma = F.lit(0).cast("long")
    for j in range(_K):
        term = F.col("c") if j == 0 else F.coalesce(
            F.lag("c", j).over(w), F.lit(0)
        )
        ewma = ewma + term * F.lit(1 << (_K - 1 - j))
    return (
        dense.withColumn("ewma_x1024", ewma.cast("long"))
        .where(
            (F.col("d") >= F.lit(_EW_LO).cast("date"))
            & (F.col("d") < F.lit(_EW_HI).cast("date"))
        )
        .select("event_type", "d", "c", "ewma_x1024")
        .orderBy("event_type", "d")
    )


@register(
    "stream_ewma_daily",
    # the streaming fold is result-identical to the batch smoother by
    # the additivity argument in the module docstring; the oracle is
    # the batch query's SQL, resolved at import from the registry to
    # stay byte-identical with q_ewma_daily's registration
    None,  # replaced immediately below (registry Q is mutable)
    doc="streaming EWMA maintenance: per-(type, day) counts fold "
    "additively over adversarially day-interleaved micro-batches "
    "(union + groupBy-sum state, calendar-bounded); the dyadic "
    "smoother derives at read time from the final state and "
    "hash-equals the one-shot batch computation (q_ewma_daily's "
    "oracle verbatim)",
)
def stream_ewma_daily(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("event_type").alias("event_type"),
        F.col("ts").cast("date").alias("d"),
    )
    empty = spark.createDataFrame([], "event_type string, d date, c long")
    state = {"cnt": empty.localCheckpoint()}

    def handle(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        b = batch_df.groupBy("event_type", "d").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        state["cnt"] = (
            state["cnt"]
            .unionByName(b)
            .groupBy("event_type", "d")
            .agg(F.sum("c").cast("long").alias("c"))
            .localCheckpoint()
        )

    src = ev.localCheckpoint()
    batches = [
        src.where(f"event_id % 3 = {i}").select("event_type", "d")
        for i in range(3)
    ]
    with replay(spark, batches) as r:
        drain(r.stream, handle)
    return _ewma_from_counts(spark, state["cnt"]).localCheckpoint()


def _adopt_batch_oracle():
    # bind the twin's oracle to the batch query's SQL verbatim — a
    # drifted copy would silently test something else
    from .registry import _REGISTRY

    _REGISTRY["stream_ewma_daily"].oracle = _REGISTRY[
        "q_ewma_daily"
    ].oracle


_adopt_batch_oracle()
