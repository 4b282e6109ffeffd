"""Streaming Pareto-skyline maintenance.

The streaming form of q_pareto_skyline: documents arrive in
micro-batches and the skyline folds incrementally as
  state <- skyline(state ∪ batch)
which is EXACT because dominance is insert-monotone: a point dominated
by the current skyline is dominated by the final set (skylines only
gain dominators), and a surviving point can only be evicted by a later
arrival — so the fold equals the one-pass batch skyline regardless of
batching (no mtime pinning needed, the stream_hll_distinct argument).
Per-trigger cost is skyline(state ∪ batch) where state is
staircase-sized — the two-phase windowed dominance pass from
queries_skyline, batch-local, never a rescan of history. That is the
100 TB posture for "maintain the Pareto frontier of an append-only
corpus": state is the frontier itself, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from ..streaming.replay import drain, replay
from .queries_skyline import _POINTS_SQL, _skyline_pass
from .registry import register


def _points(df):
    return df.where(F.size(F.split("text", " ")) > 0).select(
        "doc_id",
        F.col("n_chars").alias("x"),
        F.expr(
            "CAST(size(array_distinct(split(text, ' '))) * 1000000L"
            " DIV size(split(text, ' ')) AS BIGINT)"
        ).alias("y"),
    )


def _skyline(df):
    bucketed = df.withColumn(
        "_b", F.crc32(F.col("doc_id").cast("string")) % 16
    )
    cand = _skyline_pass(bucketed, F.col("_b")).drop("_b")
    return _skyline_pass(cand, F.col("doc_id") % 1)


@register(
    "stream_pareto_skyline",
    f"""
    WITH pts AS ({_POINTS_SQL})
    SELECT doc_id, x AS n_chars, y AS uniq_ppm
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.x >= p.x AND q.y >= p.y
        AND (q.x > p.x OR q.y > p.y)
    )
    """,
    doc="streaming Pareto-frontier maintenance: per micro-batch "
    "state <- skyline(state ∪ batch), exact under any batching by "
    "dominance insert-monotonicity; state is the staircase-sized "
    "frontier, never the corpus; final state hash-equals the one-pass "
    "batch skyline (the oracle)",
)
def stream_pareto_skyline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    state = {
        "sky": spark.createDataFrame(
            [], "doc_id long, x long, y long"
        ).localCheckpoint()
    }

    def handle(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        pts = _points(batch_df)
        state["sky"] = _skyline(
            state["sky"].unionByName(pts)
        ).localCheckpoint()

    src = docs.select("doc_id", "text", "n_chars").localCheckpoint()
    batches = [src.where(f"doc_id % 3 = {i}") for i in range(3)]
    with replay(spark, batches) as r:
        drain(r.stream, handle)
    return state["sky"].select(
        "doc_id",
        F.col("x").alias("n_chars"),
        F.col("y").alias("uniq_ppm"),
    )
