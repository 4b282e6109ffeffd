"""Streaming semantic-decontamination gate.

The stream twin of q_semantic_decontam, completing the gate matrix
(n-gram batch / n-gram stream / semantic batch / semantic stream):
embedded items arrive in micro-batches; each trigger scores the batch
against the STATIC benchmark embedding set — computed once, pinned,
broadcast per trigger — and items within the cosine radius of any
benchmark vector append to a quarantine side store. Set-union state is
batching- and order-insensitive, so the drained quarantine hash-equals
the batch gate over the whole corpus — which is exactly what the
oracle computes. Per-trigger cost is flat in corpus history: the
broadcast is constant size and the batch work is one map + one
struct-max aggregate (SCALE.md tail10 posture).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.dedup import cosine
from ..operators.similarity import _as_double
from ..sources.testdata import load_table
from ..streaming.replay import drain, replay
from .registry import register
from .queries_semantic_decontam import _CTES, _TH_6DP


@register(
    "stream_semantic_decontam_gate",
    "    WITH "
    + _CTES
    + f"""
    SELECT vec_id, bench_id, cosine
    FROM sdq_best WHERE cosine >= {_TH_6DP}
    """,
    doc="streaming semantic decontamination: per micro-batch cosine "
    "probe of incoming embeddings against the pinned broadcast "
    "benchmark set; flagged items append to a quarantine store whose "
    "drained contents hash-equal the batch gate over the whole corpus",
)
def stream_semantic_decontam_gate(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    bench = (
        emb.where("label = 0")
        .select(
            F.col("vec_id").alias("bench_id"),
            _as_double(F.col("embedding")).alias("vb"),
        )
        .localCheckpoint()
    )
    state = {
        "q": spark.createDataFrame(
            [], "vec_id long, bench_id long, cosine double"
        ).localCheckpoint()
    }

    def handle(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        scored = (
            batch_df.select(
                "vec_id", _as_double(F.col("embedding")).alias("vc")
            )
            .crossJoin(F.broadcast(bench))
            .withColumn(
                "cosine", F.round(cosine(F.col("vc"), F.col("vb")), 6)
            )
        )
        dirty = (
            scored.groupBy("vec_id")
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
        state["q"] = state["q"].unionByName(dirty).localCheckpoint()

    corpus = (
        emb.where("label != 0").select("vec_id", "embedding").localCheckpoint()
    )
    batches = [corpus.where(f"vec_id % 3 = {i}") for i in range(3)]
    with replay(spark, batches) as r:
        drain(r.stream, handle)
    return state["q"]
