"""Streaming HLL distinct-count maintenance.

The streaming form of q_hll_registers: an event stream folds into the
64-register HLL state micro-batch by micro-batch (union + register-wise
MAX — one dictionary-sized aggregate per batch). MAX commutes and is
idempotent, so the final state is independent of batching — no mtime
pinning needed — and equals the registers a single batch pass computes
over the whole log, which is exactly the oracle. The register table IS
the mergeable sketch: shipping 64 BIGINTs per partition/day is the
100 TB posture for approximate distinct users.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import sketches as SK
from ..sources.testdata import load_table
from ..streaming.replay import drain, replay
from .registry import register

_P = 6  # 64 registers


@register(
    "stream_hll_distinct",
    SK.sql_hll_registers("events", "CAST(user_id AS VARCHAR)", _P),
    doc="streaming HLL: register-wise MAX folded over micro-batches "
    "(commutative+idempotent → batching-independent, no pinning); "
    "final 64-register state hash-equals the one-pass batch sketch — "
    "the mergeable approximate-distinct posture at 100 TB "
    "(operators/sketches.hll_registers)",
)
def stream_hll_distinct(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    # memory-sourced micro-batches: arrival split by event_id % 3 (MAX
    # commutes, so the split is only there to exercise the fold)
    state = {
        "regs": spark.createDataFrame(
            [], "register long, max_rho long"
        ).localCheckpoint()
    }

    def handle(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        regs = SK.hll_registers(
            batch_df, F.col("user_id").cast("string"), _P
        )
        state["regs"] = (
            state["regs"]
            .unionByName(regs)
            .groupBy("register")
            .agg(F.max("max_rho").alias("max_rho"))
            .localCheckpoint()
        )

    src = events.select("event_id", "user_id").localCheckpoint()
    batches = [src.where(f"event_id % 3 = {i}") for i in range(3)]
    with replay(spark, batches) as r:
        drain(r.stream, handle)
    return state["regs"]
