"""Streaming exact-ANN decontamination gate.

Completes the gate matrix's last cell: the batch ANN gate
(``q_semantic_decontam_ann``) has a brute-force stream twin
(``stream_semantic_decontam_gate``, frozen) that crossJoins every
micro-batch against the ENTIRE broadcast bench — per-trigger cost
B cosines per item. Here the bench is compiled ONCE before the stream
into lossless ball-pruned cells (capped-sample train, map-side bench
assignment, distributive full-population residual re-aggregation —
the round-12 sampling discipline), and each trigger probes only the
cells passing the bound: per-item cost k folded-in centroid dots plus
candidates in probed cells, with flagged items provably carrying the
same (bench_id, cosine) argmax as brute force (the pruned search sees
every within-threshold pair). Quarantine state is a set union —
batching- and order-insensitive — so the drained store hash-equals
the batch gate over the whole corpus, and the oracle is the SAME
flagged-rows SQL as the brute-force stream twin.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.decontam_ann import build_bench_cells
from ..operators.dedup import cosine
from ..operators.knn_kernel import driver_train_sample, gate_candidate_ids
from ..operators.similarity import _as_double
from ..sources.testdata import load_table
from ..streaming.replay import drain, replay
from .registry import register
from .queries_semantic_decontam import _CTES, _TH_6DP

_K_CELLS = 8
_TRAIN_TARGET = 2000


@register(
    "stream_semantic_decontam_gate_ann",
    "    WITH "
    + _CTES
    + f"""
    SELECT vec_id, bench_id, cosine
    FROM sdq_best WHERE cosine >= {_TH_6DP}
    """,
    doc="streaming exact-ANN decontamination: bench compiled once into "
    "lossless ball-pruned cells (capped-sample train, distributive "
    "residual re-agg), each micro-batch probes only bound-passing "
    "cells (k map-side dots/item + candidates) instead of the full "
    "broadcast bench; the drained quarantine hash-equals the batch "
    "brute-force gate over the whole corpus",
)
def stream_semantic_decontam_gate_ann(spark, sf_dir):
    # r13 optimization (mirrors the knn family): the bench is collected
    # ONCE (dictionary-sized by contract — it was already shipped whole
    # as the broadcast join side) and candidate selection runs inside
    # one Arrow kernel per trigger batch
    # (operators/knn_kernel.gate_candidate_ids), which emits a provable
    # superset of every bench member whose rounded cosine reaches the
    # threshold; only those pairs are re-scored with the oracle-exact
    # expression cosine. Per-trigger cost drops from a full-candidate
    # interpreted-cosine pass (N×B folds in the unclustered
    # degrade-to-brute regime) to one kernel stage + a handful of
    # exact folds.
    emb = load_table(spark, sf_dir, "embeddings")
    bench_rows = [
        (int(r[0]), list(r[1]))
        for r in emb.where("label = 0")
        .select("vec_id", _as_double(F.col("embedding")).alias("vb"))
        .collect()
    ]
    empty = spark.createDataFrame(
        [], "vec_id long, bench_id long, cosine double"
    )
    if not bench_rows:
        return empty
    sample_rows = driver_train_sample(bench_rows, target=_TRAIN_TARGET)
    _, cells = build_bench_cells(sample_rows, k=_K_CELLS)
    bench_b = spark.createDataFrame(
        bench_rows, "bench_id long, vb array<double>"
    )
    cand = gate_candidate_ids(
        spark, F.col("vc"), bench_rows, cells, _TH_6DP
    )
    # quarantine state is an append-only SET UNION (batching- and
    # order-insensitive), so each trigger materializes ONLY its own
    # flagged rows and the union is assembled once after the stream —
    # the earlier per-trigger `state ∪ batch` localCheckpoint rewrote
    # the ENTIRE accumulated store every trigger (O(T²) state bytes
    # over T triggers; r13 optimization, guide §1.2). The kernel column
    # is built once and reused across triggers.
    parts: list = []

    def handle(batch_df, batch_id):
        # flagged-only output: explode (not explode_outer) — an item
        # with zero kernel candidates is provably clean and never joins
        dirty = (
            batch_df.select(
                "vec_id", _as_double(F.col("embedding")).alias("vc")
            )
            .select("vec_id", "vc", F.explode(cand).alias("bench_id"))
            .join(F.broadcast(bench_b), "bench_id")
            .withColumn(
                "cosine", F.round(cosine(F.col("vc"), F.col("vb")), 6)
            )
            .groupBy("vec_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("cosine"), (-F.col("bench_id")).alias("nbid")
                    )
                ).alias("_b")
            )
            .where(F.col("_b.cosine") >= F.lit(_TH_6DP))
            .select(
                "vec_id",
                (-F.col("_b.nbid")).cast("long").alias("bench_id"),
                F.col("_b.cosine").alias("cosine"),
            )
        )
        parts.append(dirty.localCheckpoint())

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
