"""Streaming decontamination gate.

The stream twin of q_decontam_verdicts: documents arrive in
micro-batches (the ingest lane of a training-data pipeline); each
batch's docs are probed against the STATIC benchmark gram set —
computed once, pinned, broadcast into every trigger — and contaminated
docs append to a durable quarantine side store (set union, batching-
independent, so no mtime pinning needed). After the drain the
quarantine holds exactly the batch gate's verdicts over the whole
corpus — the oracle. This is decontamination as it runs in production:
a per-trigger gate at ingest, not a post-hoc corpus scan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import decontam as DC
from ..sources.testdata import load_table
from ..streaming.replay import drain, replay
from .registry import register

_N = 8
_BENCH = "doc_id % 29 = 0"
_CORPUS = "doc_id % 29 != 0"

_CTES = DC.sql_decontam_ctes(
    f"(SELECT doc_id, text FROM documents WHERE {_CORPUS})",
    f"(SELECT doc_id, text FROM documents WHERE {_BENCH})",
    _N,
)


@register(
    "stream_decontam_gate",
    "    WITH " + _CTES + """
    SELECT doc_id, n_grams, n_hits
    FROM dc_verdicts WHERE contaminated
    """,
    doc="streaming decontamination gate: per micro-batch n-gram probe "
    "of incoming docs against the pinned broadcast benchmark gram set; "
    "contaminated docs append to a quarantine side store whose drained "
    "contents hash-equal the batch gate over the whole corpus",
)
def stream_decontam_gate(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(_BENCH)
    # the benchmark gram set: computed ONCE, pinned, broadcast per batch
    bg = (
        DC.benchmark_grams(bench, n=_N)
        .withColumn("_m", F.lit(1).cast("long"))
        .localCheckpoint()
    )
    state = {
        "q": spark.createDataFrame(
            [], "doc_id long, n_grams long, n_hits long"
        ).localCheckpoint()
    }

    def handle(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        occ = DC._doc_grams(batch_df, "doc_id", "text", _N)
        dirty = (
            occ.join(F.broadcast(bg), "shash", "left")
            .groupBy("_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_grams"),
                F.coalesce(F.sum("_m"), F.lit(0)).cast("long").alias("n_hits"),
            )
            .where(F.col("n_hits") >= 1)
            .select(F.col("_id").alias("doc_id"), "n_grams", "n_hits")
        )
        state["q"] = state["q"].unionByName(dirty).localCheckpoint()

    src = docs.where(_CORPUS).select("doc_id", "text").localCheckpoint()
    batches = [src.where(f"doc_id % 3 = {i}") for i in range(3)]
    with replay(spark, batches) as r:
        drain(r.stream, handle)
    return state["q"]
