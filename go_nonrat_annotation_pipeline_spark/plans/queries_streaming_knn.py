"""Streaming exact top-k join.

Stream twin of ``sim_knn_exact_cells``: corpus embeddings arrive in
micro-batches; the bench is compiled ONCE before the stream into the
lossless cell table (capped-sample train, map-side assignment,
distributive full-population residual re-agg — the round-12
discipline), and each trigger runs the two exact passes (seed lower
bound, cap-bound prune) on JUST the batch. Per-row top-k depends only
on the row and the pinned bench — batching- and order-insensitive —
so the appended result store hash-equals the batch query over the
whole corpus, and the oracle is the SAME brute-force window SQL.
Per-trigger cost: 2k centroid dots per row + candidates; state is the
append-only result store, never the corpus.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators.decontam_ann import build_bench_cells
from ..operators.dedup import cosine
from ..operators.knn_kernel import driver_train_sample, topk_candidate_ids
from ..operators.similarity import _as_double
from ..sources.testdata import load_table
from ..streaming.replay import drain, replay
from .registry import register
from .queries_semantic_decontam import _CTES

_K_CELLS = 8
_TRAIN_TARGET = 2000
_TOPK = 5


@register(
    "stream_knn_exact",
    "    WITH "
    + _CTES
    + f"""
    SELECT vec_id, CAST(rn AS BIGINT) AS rank, bench_id, cosine FROM (
      SELECT vec_id, bench_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cosine DESC, bench_id ASC) AS rn
      FROM sdq_scored)
    WHERE rn <= {_TOPK}
    """,
    doc="streaming exact top-k join: bench compiled once into lossless "
    "cells, each micro-batch runs the seed + prune passes on its own "
    "rows only; per-row top-k is batch-invariant, so the appended "
    "store hash-equals the batch brute-force window oracle",
)
def stream_knn_exact(spark, sf_dir):
    # r13 optimization (mirrors the batch twin sim_knn_exact_cells):
    # the bench is collected ONCE (dictionary-sized by contract — it
    # was already shipped whole as the broadcast join side) and both
    # exact passes run inside one Arrow kernel per trigger batch
    # (operators/knn_kernel.topk_candidate_ids), which emits a provable
    # superset of each row's exact top-k; only those candidates are
    # re-scored with the oracle-exact expression cosine and ranked.
    # Per-trigger cost drops from two broadcast joins + a full-candidate
    # interpreted-cosine pass + a seed groupBy shuffle to one kernel
    # stage + ~k+ties exact folds per row.
    emb = load_table(spark, sf_dir, "embeddings")
    bench_rows = [
        (int(r[0]), list(r[1]))
        for r in emb.where("label = 0")
        .select("vec_id", _as_double(F.col("embedding")).alias("vb"))
        .collect()
    ]
    empty = spark.createDataFrame(
        [], "vec_id long, rank long, bench_id long, cosine double"
    )
    if not bench_rows:
        return empty
    sample_rows = driver_train_sample(bench_rows, target=_TRAIN_TARGET)
    _, cells = build_bench_cells(sample_rows, k=_K_CELLS)
    bench_b = spark.createDataFrame(
        bench_rows, "bench_id long, vb array<double>"
    )
    cand = topk_candidate_ids(
        spark, F.col("vc"), bench_rows, cells, _TOPK
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cosine"), F.asc("bench_id")
    )
    # per-row top-k is batch-invariant, so the result store is an
    # append-only union: each trigger materializes ONLY its own top-k
    # rows and the union is assembled once after the stream — the
    # earlier per-trigger `state ∪ batch` localCheckpoint rewrote the
    # ENTIRE accumulated store every trigger (O(T²) state bytes over T
    # triggers; r13 optimization, guide §1.2). The kernel column is
    # built once and reused across triggers.
    parts: list = []

    def handle(batch_df, batch_id):
        topk = (
            batch_df.select(
                "vec_id", _as_double(F.col("embedding")).alias("vc")
            )
            .select("vec_id", "vc", F.explode(cand).alias("bench_id"))
            .join(F.broadcast(bench_b), "bench_id")
            .withColumn(
                "cosine", F.round(cosine(F.col("vc"), F.col("vb")), 6)
            )
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= _TOPK)
            .select("vec_id", "rank", "bench_id", "cosine")
        )
        parts.append(topk.localCheckpoint())

    # one corpus scan serves all three staged batch files
    corpus = (
        emb.where("label != 0").select("vec_id", "embedding").localCheckpoint()
    )
    batches = [corpus.where(f"vec_id % 3 = {i}") for i in range(3)]
    with replay(spark, batches) as r:
        drain(r.stream, handle)
    out = empty
    for p in parts:
        out = out.unionByName(p)
    return out
