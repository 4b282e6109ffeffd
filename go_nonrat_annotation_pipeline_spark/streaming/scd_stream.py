"""Streaming SCD Type 2 dimension maintenance.

The streaming twin of operators/scd.scd2_history: an event stream
updates a versioned dimension micro-batch by micro-batch — open
intervals extend or close, new versions append — and after the stream
drains the maintained dimension is IDENTICAL to a from-scratch batch
rebuild over all events (the maintained ≡ recompute contract
operators/incragg.py establishes for aggregates, here for interval
histories; the registered query's oracle IS the batch rebuild SQL).

Per micro-batch (events assumed to arrive in non-decreasing time
order across batches — the file-pinned harness splits by ts range;
late events are a watermark problem upstream of a type-2 dimension):

1. run-collapse the batch alone (scd2_history — one keyed window over
   the BATCH, never the accumulated log);
2. join the k-row open-interval state: a first batch run matching the
   open attr MERGES into it (the open interval simply extends),
   otherwise the open interval closes at the first run's start;
3. closed batch runs append to the closed set with versions shifted by
   the key's prior version count; the last run (or the untouched open
   interval) becomes the new open state.

Cost per batch: O(|batch| + |keys|) — the closed history is appended
to, never rescanned. State lives in localCheckpointed DataFrames with
a per-batch repartition guard (looped unionByName otherwise doubles
partition counts every batch).

This module is NEW in the round-6 continuation so the frozen
streaming/stream.py (backing WINDOW_R6 rows) stays byte-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.scd import scd2_history
from .replay import drain


def scd2_dimension_stream(
    event_stream: DataFrame,
    key_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Drain ``event_stream`` through foreachBatch, maintaining the
    SCD2 dimension incrementally; return the final full history with
    the same schema as :func:`operators.scd.scd2_history`
    (key, attr, valid_from_us, valid_to_us, version, is_current)."""
    spark = event_stream.sparkSession
    n_part = spark.sparkContext.defaultParallelism
    empty_closed = spark.createDataFrame(
        [],
        f"{key_col} long, attr string, valid_from_us long, "
        "valid_to_us long, version long",
    )
    empty_open = spark.createDataFrame(
        [], f"{key_col} long, attr string, valid_from_us long, version long"
    )
    state = {"closed": empty_closed, "open": empty_open}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        runs = scd2_history(
            batch_df, key_col, attr_col, ts_col, id_col
        ).localCheckpoint()
        # per-key summary of the batch: first run's attr/bounds, run count
        first = runs.where(F.col("version") == 1).select(
            key_col,
            F.col("attr").alias("_f_attr"),
            F.col("valid_from_us").alias("_f_from"),
            F.col("valid_to_us").alias("_f_to"),
        )
        nruns = runs.groupBy(key_col).agg(F.max("version").alias("_n"))
        touched = first.join(nruns, key_col)
        # presence flags, not attr nullness: a NULL tracked attribute
        # in the open state is a legal value (batch scd2_history keeps
        # it), so side-existence is carried as an explicit marker and
        # the attr comparison is null-safe (ADVICE r6)
        st = state["open"].withColumn("_open", F.lit(1)).join(
            touched, key_col, "full_outer"
        ).select(
            key_col,
            "attr",
            "valid_from_us",
            "version",
            "_open",
            "_f_attr",
            "_f_from",
            "_f_to",
            "_n",
            (
                F.col("_open").isNotNull()
                & F.col("attr").eqNullSafe(F.col("_f_attr"))
            ).alias("_match"),
        )
        # 1) open intervals that close this batch
        newly_closed = st.where(
            F.col("_n").isNotNull()
            & F.col("_open").isNotNull()
            & (~F.col("_match") | (F.col("_n") >= 2))
        ).select(
            key_col,
            "attr",
            "valid_from_us",
            F.when(F.col("_match"), F.col("_f_to"))
            .otherwise(F.col("_f_from"))
            .alias("valid_to_us"),
            "version",
        )
        # 2) batch runs appended with shifted versions (merged first
        #    runs dropped); shift = v0-1 on merge, v0 on change, 0 new
        shift = st.where(F.col("_n").isNotNull()).select(
            key_col,
            F.coalesce(
                F.when(F.col("_match"), F.col("version") - 1).otherwise(
                    F.col("version")
                ),
                F.lit(0),
            ).alias("_shift"),
            "_match",
        )
        shifted = (
            runs.join(shift, key_col)
            .where(~F.col("_match") | (F.col("version") >= 2))
            .select(
                key_col,
                "attr",
                F.col("valid_from_us"),
                F.col("valid_to_us"),
                (F.col("version") + F.col("_shift")).alias("version"),
            )
        )
        batch_closed = shifted.where(F.col("valid_to_us").isNotNull()).select(
            key_col, "attr", "valid_from_us", "valid_to_us", "version"
        )
        batch_open = shifted.where(F.col("valid_to_us").isNull()).select(
            key_col, "attr", "valid_from_us", "version"
        )
        # 3) open set: untouched keys + merged-n==1 keys + new last runs
        carried_open = st.where(
            F.col("_open").isNotNull()
            & (F.col("_n").isNull() | (F.col("_match") & (F.col("_n") == 1)))
        ).select(key_col, "attr", "valid_from_us", "version")
        state["closed"] = (
            state["closed"]
            .unionByName(newly_closed)
            .unionByName(batch_closed)
            .repartition(n_part, key_col)
            .localCheckpoint()
        )
        state["open"] = (
            carried_open.unionByName(batch_open)
            .repartition(n_part, key_col)
            .localCheckpoint()
        )

    drain(event_stream, handle)
    closed = state["closed"].select(
        key_col,
        "attr",
        "valid_from_us",
        "valid_to_us",
        "version",
        F.lit(0).cast("long").alias("is_current"),
    )
    opened = state["open"].select(
        key_col,
        "attr",
        "valid_from_us",
        F.lit(None).cast("long").alias("valid_to_us"),
        "version",
        F.lit(1).cast("long").alias("is_current"),
    )
    return closed.unionByName(opened)
