"""Durable streaming bitemporal store — assertions (including late
corrections) arrive on a stream; any past or present belief stays
reconstructible from the store.

The store is the simplest member of the repo's durable-store family
(ivm_store / ivm_retract): an append-only assertion log partitioned by
``admit_batch=<id>``. The recovery contract is inherited — offsets log
before foreachBatch, so a killed batch replays with the SAME id and
the writer overwrites its own partition (idempotent). Uniquely here,
even at-least-once delivery would be VALUE-safe: the read-side
latest-recording-wins resolve (operators/bitemporal.bitemporal_history)
picks one row per (key, valid instant) deterministically, and a
duplicate of the winning assertion carries identical values — the
resolved view cannot see duplication. Batching and arrival ORDER are
likewise invisible: the view depends only on the assertion SET, which
is what makes the oracle (the batch query over the same assertions)
exact regardless of trigger boundaries.

Scale: maintenance is a blind partition append (zero read, zero
shuffle per trigger — cheaper than any IVM); the view pays its two
keyed windows only when read. For hot stores, compact by rewriting the
resolved winners per (key, valid) into a seed partition — the same
rename-only swap as ivm_compact (not needed at test scale; the resolve
makes folded and unfolded stores view-identical by construction).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from ..operators.bitemporal import bitemporal_history
from .replay import drain

ASSERT_SCHEMA = (
    "user_id long, val string, valid_us long, recorded_us long, _tie long"
)


def make_bitemporal_handler(spark: SparkSession, store_dir: str):
    """foreachBatch handler: append the batch's assertions into
    ``admit_batch=<id>`` (overwrite-on-replay, the family contract)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        part = os.path.join(store_dir, f"admit_batch={batch_id}")
        shutil.rmtree(part, ignore_errors=True)
        batch_df.write.mode("overwrite").parquet(part)

    return handle


def read_assertions(spark: SparkSession, store_dir: str) -> DataFrame:
    base = spark.createDataFrame([], ASSERT_SCHEMA)
    schema = StructType(
        list(base.schema.fields) + [StructField("admit_batch", LongType())]
    )
    return (
        spark.read.schema(schema)
        .option("basePath", store_dir)
        .parquet(store_dir)
        .drop("admit_batch")
    )


def bitemporal_view(
    spark: SparkSession, store_dir: str, as_of_us: int | None = None
) -> DataFrame:
    """The believed validity history at knowledge cutoff ``as_of_us``
    (None = everything admitted so far), straight off the store."""
    return bitemporal_history(
        read_assertions(spark, store_dir), as_of_us=as_of_us
    )


def assertions_stream_to_store(
    feed: DataFrame, store_dir: str, checkpoint_loc: str
) -> None:
    """Drain a bounded assertion ``feed`` into the durable store."""
    drain(
        feed,
        make_bitemporal_handler(feed.sparkSession, store_dir),
        checkpoint=checkpoint_loc,
    )
