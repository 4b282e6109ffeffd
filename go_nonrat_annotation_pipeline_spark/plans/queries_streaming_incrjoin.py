"""Streaming JOIN-view maintenance.

The streaming twin of q_incremental_join_maintain: ONE stream carries
tagged insert rows for BOTH join sides (the realistic CDC feed), and
each micro-batch folds the three-term delta expansion against the
bases accumulated so far:

    ΔV = ΔL ⋈ R_cur  ∪  L_cur ⋈ ΔR  ∪  ΔL ⋈ ΔR
    then V ∪= ΔV, L_cur ∪= ΔL, R_cur ∪= ΔR

Per-batch intermediates depend on batching, but the FINAL view is
batching-independent for insert-only feeds (each step's expansion is
exact), so the oracle is simply the full post-feed join — maintained ≡
recompute, streamed. Bases are probed per batch, never re-joined
against each other; per-batch state rides localCheckpoint with the
repartition guard (the looped-union partition-growth lesson).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.incrjoin import delta_join
from ..sources.testdata import load_table
from ..streaming.replay import drain, replay
from .registry import register

_N_BATCHES = 3


@register(
    "stream_incremental_join",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(l.l_quantity) AS BIGINT)) AS BIGINT)
             AS sum_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="streaming join IVM: one tagged CDC stream carries inserts for "
    "BOTH sides; each micro-batch folds dL*R_cur + L_cur*dR + dL*dR "
    "into the view — final state hash-equals the full post-feed join "
    "(maintained ≡ recompute, streamed; operators/incrjoin.delta_join)",
)
def stream_incremental_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        F.lit("L").alias("side"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("attr"),
        F.lit(None).cast("long").alias("qty"),
        F.lit(0).alias("sub"),
    )
    line = load_table(spark, sf_dir, "lineitem").select(
        F.lit("R").alias("side"),
        F.col("l_orderkey").alias("k"),
        F.lit(None).cast("string").alias("attr"),
        F.floor("l_quantity").cast("long").alias("qty"),
        F.col("l_linenumber").alias("sub"),
    )
    feed = orders.unionByName(line)

    n_part = spark.sparkContext.defaultParallelism
    empty_l = spark.createDataFrame([], "k long, attr string")
    empty_r = spark.createDataFrame([], "k long, qty long")
    empty_v = spark.createDataFrame([], "k long, attr string, qty long")
    state = {
        "L": empty_l.localCheckpoint(),
        "R": empty_r.localCheckpoint(),
        "V": empty_v.localCheckpoint(),
    }

    def handle(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        dl = batch_df.where("side = 'L'").select("k", "attr")
        dr = batch_df.where("side = 'R'").select("k", "qty")
        dv = delta_join(state["L"], dl, state["R"], dr, "k")
        state["V"] = (
            state["V"]
            .unionByName(dv)
            .repartition(n_part, "k")
            .localCheckpoint()
        )
        state["L"] = (
            state["L"].unionByName(dl)
            .repartition(n_part, "k")
            .localCheckpoint()
        )
        state["R"] = (
            state["R"].unionByName(dr)
            .repartition(n_part, "k")
            .localCheckpoint()
        )

    src = feed.localCheckpoint()
    batches = [
        src.where(f"(k + sub) % {_N_BATCHES} = {i}") for i in range(_N_BATCHES)
    ]
    with replay(spark, batches) as r:
        drain(r.stream, handle)
    return state["V"].groupBy(F.col("attr").alias("o_orderpriority")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("qty").alias("sum_qty"),
    )
