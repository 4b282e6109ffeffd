"""Durable, restart-safe streaming JOIN-view maintenance.

The durable form of plans/queries_streaming_incrjoin (in-memory twin,
oracle-attested): the accumulating LEFT/RIGHT bases and the maintained
view live as parquet artifacts on disk, partitioned by the admitting
micro-batch id — the same recovery contract as the durable dedup store
(streaming/stream.incremental_dedup_stream_durable):

- The checkpoint logs offsets BEFORE foreachBatch runs, so a killed
  batch is re-delivered with the SAME id; every writer targets its own
  ``admit_batch=<id>`` / ``batch=<id>`` partition with overwrite, so a
  replayed batch replaces any half-written first attempt — the view
  never double-counts a delta.
- Batch N's delta expansion probes bases with ``admit_batch < N`` —
  exactly the pre-batch bases even when a dirty ``=N`` partition
  survived a crash (its directory is removed up front: partition
  pruning skips rows, but scan planning can still trip on a truncated
  footer).
- A batch commits (checkpoint commit log) only after all three
  partitions are written, so deltas can't be lost either.

After the drain, ``view_dir`` holds V = (L0 ∪ ΣΔL) ⋈ (R0 ∪ ΣΔR)
regardless of batching or crashes — kill/restart tests in
tests/test_ivm_store.py assert exactly that.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..operators.incrjoin import delta_join
from .replay import drain

L_SCHEMA = "k long, attr string"
R_SCHEMA = "k long, qty long"


def _read_store(spark, path: str, schema_ddl: str, before_batch: int):
    base = spark.createDataFrame([], schema_ddl)
    store_schema = StructType(
        list(base.schema.fields) + [StructField("admit_batch", LongType())]
    )
    return (
        spark.read.schema(store_schema)
        .option("basePath", path)
        .parquet(path)
        .where(F.col("admit_batch") < F.lit(before_batch))
        .drop("admit_batch")
    )


def make_ivm_handler(spark, l_dir: str, r_dir: str, view_dir: str):
    """The per-batch fold (factored out so the crash-recovery test can
    wrap it with a simulated mid-batch kill). Batch rows carry
    (side 'L'|'R', k, attr, qty)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dl = (
            batch_df.where("side = 'L'")
            .select("k", "attr")
            .localCheckpoint()
        )
        dr = (
            batch_df.where("side = 'R'")
            .select("k", "qty")
            .localCheckpoint()
        )
        for d in (l_dir, r_dir):
            shutil.rmtree(
                os.path.join(d, f"admit_batch={batch_id}"),
                ignore_errors=True,
            )
        shutil.rmtree(
            os.path.join(view_dir, f"batch={batch_id}"), ignore_errors=True
        )
        l_cur = _read_store(spark, l_dir, L_SCHEMA, batch_id)
        r_cur = _read_store(spark, r_dir, R_SCHEMA, batch_id)
        dv = delta_join(l_cur, dl, r_cur, dr, "k").localCheckpoint()
        dv.write.mode("overwrite").parquet(
            os.path.join(view_dir, f"batch={batch_id}")
        )
        dl.write.mode("overwrite").parquet(
            os.path.join(l_dir, f"admit_batch={batch_id}")
        )
        dr.write.mode("overwrite").parquet(
            os.path.join(r_dir, f"admit_batch={batch_id}")
        )

    return handle


def join_view_stream_durable(
    feed: DataFrame,
    initial_l: DataFrame,
    initial_r: DataFrame,
    l_dir: str,
    r_dir: str,
    view_dir: str,
    checkpoint_loc: str,
) -> None:
    """Drain the tagged CDC ``feed``, maintaining bases + view on disk.
    Seeds ``admit_batch=-1`` with the initial bases (idempotent: skipped
    when present — e.g. on restart). Read ``view_dir`` with
    :func:`read_view` for the maintained join, and seed V0 = L0 ⋈ R0
    yourself if the initial bases are non-empty and you need the FULL
    view (this maintains deltas against them either way)."""
    spark = feed.sparkSession
    for path, df in ((l_dir, initial_l), (r_dir, initial_r)):
        seed = os.path.join(path, "admit_batch=-1")
        if not os.path.isdir(seed):
            df.write.mode("overwrite").parquet(seed)
    drain(
        feed,
        make_ivm_handler(spark, l_dir, r_dir, view_dir),
        checkpoint=checkpoint_loc,
    )


def read_view(spark, view_dir: str) -> DataFrame:
    base = spark.createDataFrame([], "k long, attr string, qty long")
    schema = StructType(
        list(base.schema.fields) + [StructField("batch", LongType())]
    )
    return (
        spark.read.schema(schema)
        .option("basePath", view_dir)
        .parquet(view_dir)
        .drop("batch")
    )
