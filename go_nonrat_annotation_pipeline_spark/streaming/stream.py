"""Structured Streaming operators.

The reference pipeline is strictly batch (SURVEY.md §2.5); streaming is
the engine's extension surface: the incremental-upsert dataflow maps
naturally onto readStream → transform → foreachBatch(merge). Provided
here: a parquet-source event stream with the nanos workaround, a
tumbling-window aggregation, and a synchronous drain helper for tests
and the oracle harness.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .replay import drain

def _events_stream_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming scan of the events parquet, adapting to the file's ts type
    (int64 TIMESTAMP(NANOS) via the nanosAsLong workaround, or a native
    timestamp column).

    FileStreamSource needs a directory; `path` may be a single file, so
    stream its parent dir with a pathGlobFilter pinning the file name.

    The schema and ts conversion are fixed from a ONE-SHOT footer read of
    the files present at call time — correct for the bounded test source;
    a live directory where later-arriving files switch ts encoding would
    need a per-file adapter upstream instead.
    """
    import os

    from ..sources.testdata import parquet_ts_unit

    # nanosAsLong is session-global; only set it when the footer actually
    # says TIMESTAMP(NANOS) (see sources/testdata.load_table)
    if parquet_ts_unit(path) == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    if path.endswith(".parquet"):
        base, fname = os.path.dirname(path), os.path.basename(path)
    else:
        base, fname = path, "*.parquet"
    # cheap footer-only batch read to learn the physical ts type
    ts_type = spark.read.parquet(path).schema["ts"].dataType
    src = (
        spark.readStream.schema(_events_stream_schema(ts_type))
        .option("pathGlobFilter", fname)
        .parquet(base)
    )
    if isinstance(ts_type, T.LongType):
        # integer div (see sources/testdata.load_table): double division
        # rounds the µs at ns-epoch magnitudes
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    elif not isinstance(ts_type, T.TimestampType):
        # fail HERE with a clear message instead of an obscure
        # watermark/window error downstream (e.g. a schema regression
        # shipping ts as string)
        raise TypeError(
            f"events ts column has unsupported type {ts_type}; expected "
            "TIMESTAMP(NANOS) int64, TIMESTAMP_NTZ, or TIMESTAMP"
        )
    return src


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Windowed counts + decimal-exact value sums with a watermark for
    late data (append-mode capable on a live source)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(38,6)")
            .alias("total_value"),
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding (hopping) window counts: each event lands in
    window/slide overlapping windows. State per key is bounded by the
    watermark exactly as in tumbling_counts; the only extra cost is the
    window/slide replication factor on the shuffled rows — Spark
    expands the windows BEFORE the shuffle, so map-side partial
    aggregation still applies per (window, event_type)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SESSION_OUT_SCHEMA = (
    "user_id long, session_id int, n_events long, "
    "session_start timestamp, session_end timestamp"
)
SESSION_STATE_SCHEMA = "last_ts timestamp, last_session int"


def stateful_sessions(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful operator: gap-based sessionization with
    applyInPandasWithState (the engine's extension point for operators
    Spark's built-ins can't express incrementally — SURVEY.md §2.5).

    Each user's events are folded into sessions split on > gap_minutes
    silence; GroupState carries (last_ts, last_session) across
    micro-batches. Emitted rows are the per-session aggregates as of the
    batch — with a single-batch bounded source the output is exactly the
    batch sessionization (what the DuckDB oracle checks).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap = pd.Timedelta(minutes=gap_minutes)

    def fold(key, pdfs, state: GroupState):
        pdf = pd.concat(list(pdfs)).sort_values("ts")
        if state.exists:
            last_ts, last_session = state.get
            last_ts = pd.Timestamp(last_ts)
        else:
            last_ts, last_session = None, 0
        new_flags = []
        for ts in pdf["ts"]:
            is_new = last_ts is None or (ts - last_ts) > gap
            if is_new:
                last_session += 1
            new_flags.append(last_session)
            last_ts = ts
        pdf = pdf.assign(session_id=new_flags)
        state.update((last_ts.to_pydatetime(), int(last_session)))
        out = (
            pdf.groupby("session_id", as_index=False)
            .agg(
                n_events=("ts", "size"),
                session_start=("ts", "min"),
                session_end=("ts", "max"),
            )
            .assign(user_id=key[0])
        )
        yield out[["user_id", "session_id", "n_events", "session_start", "session_end"]]

    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def interval_join_purchases_clicks(
    purchases: DataFrame, clicks: DataFrame, lookback_minutes: int = 60
) -> DataFrame:
    """Stream-stream interval join: every (purchase, click) pair for the
    same user with the click inside [purchase_ts - lookback, purchase_ts).

    Both sides carry watermarks so the join state is bounded: Spark
    drops buffered clicks once the purchase-side watermark passes
    click_ts + lookback — state size is O(users active in the lookback
    horizon), not O(stream). Append output mode; pairs emit as soon as
    both sides are present.
    """
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "2 hours")
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "2 hours")
    cond = (
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback_minutes} MINUTES"))
        & (F.col("c_ts") < F.col("p_ts"))
    )
    return p.join(c, cond, "inner").select("purchase_id", "click_id", "user_id")


def dedup_stream(events: DataFrame, key_cols: list[str]) -> DataFrame:
    """Streaming exact dedup on a key: dropDuplicates keeps first-seen
    per key in streaming state (hash-partitioned on the key — the
    distributed analogue of the batch exact-dedup operator). With a
    watermark the state would be pruned by event time; the bounded test
    source keeps it unbounded-but-finite.
    """
    return events.select(*key_cols).dropDuplicates(key_cols)


def merge_into_store(annot_stream: DataFrame, store, run_ts) -> list:
    """Incremental-upsert bridge: stream → foreachBatch → AnnotStore MERGE.

    The reference's batch dataflow is already incremental (insert /
    update / touch / stale-delete); this maps it 1:1 onto Structured
    Streaming — each micro-batch MERGEs into FULL_ANNOT with the same
    9-field null-safe key semantics (SURVEY.md §7.3 step 10). Returns
    the per-batch UpsertStats, in order.
    """
    stats: list = []

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        stats.append(store.merge_upsert(batch_df, run_ts))

    drain(annot_stream, handle)
    return stats


def run_to_memory(agg: DataFrame, mode: str = "complete") -> DataFrame:
    """Drain a (bounded) streaming query synchronously into a memory sink
    and return the result as a batch DataFrame."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark = agg.sparkSession
    return spark.table(name)


def incremental_dedup_stream(
    doc_stream: DataFrame,
    initial_store: DataFrame,
    verify_threshold: float = 0.7,
) -> DataFrame:
    """Continuous-ingestion near-dup gate: a document stream checked
    batch-by-batch against an ACCUMULATING store.

    Each micro-batch runs operators/dedup.incremental_minhash_dups
    against the store as of that batch; clean (unflagged) docs are
    admitted into the store, so later batches dedup against everything
    admitted before them — the semantics of a real ingest pipeline,
    where today's crawl must not duplicate yesterday's either. Returns
    the flagged pairs (incoming_id, store_id, jaccard) across all
    batches as a batch DataFrame.

    State posture: the accumulated state is the SIGNATURE table
    (operators/dedup.minhash_signatures — sh sets + 8 minhashes per
    doc), not raw text: each batch is signatured exactly once at
    admission, so per-batch cost is the batch's own signature stage +
    the band join, and never rescans store text. A production
    deployment appends the same table to a parquet/Delta artifact; here
    it is a per-batch localCheckpoint. Batch order is the file-source
    order; results are deterministic given deterministic batching
    (tests/queries pin batches by file mtime).
    """
    from ..operators.dedup import incremental_minhash_dups, minhash_signatures

    spark = doc_stream.sparkSession
    flags_schema = "incoming_id long, store_id long, jaccard double"
    # Both accumulators are DataFrames pinned per batch: the signature
    # STORE (as before) and the FLAGGED-pairs table — nothing batch- or
    # corpus-sized ever crosses to the driver (the durable variant's
    # posture, unified here per VERDICT r7 #4).
    state = {
        "sigs": minhash_signatures(
            initial_store.select("doc_id", "text")
        ).localCheckpoint(),
        "flags": spark.createDataFrame([], flags_schema).localCheckpoint(),
    }

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.select("doc_id", "text").localCheckpoint()
        batch_sigs = minhash_signatures(batch).localCheckpoint()
        pairs = incremental_minhash_dups(
            None,
            batch,
            verify_threshold=verify_threshold,
            store_sigs=state["sigs"],
            incoming_sigs=batch_sigs,
        ).localCheckpoint()
        # Distributed admission filter: anti-join against the flagged
        # ids — same shape as the durable store's admission
        # (_incdedup_make_handler), no collect()+isin round-trip.
        admitted_sigs = batch_sigs.join(
            pairs.select(F.col("incoming_id").alias("_id")).distinct(),
            on="_id",
            how="left_anti",
        )
        state["sigs"] = (
            state["sigs"].unionByName(admitted_sigs).localCheckpoint()
        )
        state["flags"] = (
            state["flags"]
            .unionByName(pairs.select("incoming_id", "store_id", "jaccard"))
            .localCheckpoint()
        )

    drain(doc_stream, handle)
    return state["flags"]


def incremental_dedup_stream_durable(
    doc_stream: DataFrame,
    initial_store: DataFrame,
    store_dir: str,
    flags_dir: str,
    checkpoint_loc: str,
    verify_threshold: float = 0.7,
) -> None:
    """Restart-safe incremental dedup: the accumulating SIGNATURE store
    and the flagged pairs are parquet artifacts on disk, partitioned by
    the admitting micro-batch id.

    Recovery contract (the exactly-once posture of the foreachBatch →
    MERGE bridge, applied to an accumulating store):

    - The checkpoint logs a batch's offsets BEFORE foreachBatch runs, so
      after a kill the SAME batch id is re-delivered on restart. Both
      writers are therefore idempotent per batch: each batch writes to
      its own ``admit_batch=<id>`` / ``batch=<id>`` partition directory
      with mode("overwrite"), so a reprocessed batch replaces whatever
      a half-finished first attempt left behind — no duplicated
      admissions, no duplicated flags.
    - The store side of batch N's band join reads only partitions with
      ``admit_batch < N`` — exactly the pre-batch store even when a
      dirty ``admit_batch=N`` partition survives the crash.
    - Admissions can't be LOST either: a batch is only marked committed
      (checkpoint commit log) after foreachBatch returns, i.e. after
      its partition is fully written.

    The caller owns the three directories; run-to-drain the stream and
    read ``flags_dir`` / ``store_dir`` for results
    (tests/test_streaming.py kills between and inside micro-batches and
    asserts the invariants above; the in-memory variant
    :func:`incremental_dedup_stream` is the oracle-attested query
    shape).
    """
    import os

    from ..operators.dedup import minhash_signatures

    spark = doc_stream.sparkSession
    seed_dir = os.path.join(store_dir, "admit_batch=-1")
    if not os.path.isdir(seed_dir):
        minhash_signatures(
            initial_store.select("doc_id", "text")
        ).write.mode("overwrite").parquet(seed_dir)

    drain(
        doc_stream,
        _incdedup_make_handler(spark, store_dir, flags_dir, verify_threshold),
        checkpoint=checkpoint_loc,
    )


def _incdedup_make_handler(
    spark, store_dir: str, flags_dir: str, verify_threshold: float
):
    """The per-batch handler of :func:`incremental_dedup_stream_durable`
    (factored out so the restart-recovery test can wrap it with a
    simulated mid-batch crash)."""
    import os
    import shutil

    from pyspark.sql.types import LongType, StructField, StructType

    from ..operators.dedup import incremental_minhash_dups, minhash_signatures

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.select("doc_id", "text").localCheckpoint()
        batch_sigs = minhash_signatures(batch).localCheckpoint()
        # Only THIS batch's partition can be dirty after a kill (prior
        # batches are committed-complete). Partition pruning skips its
        # ROWS, but a truncated part-file's corrupt footer can still be
        # opened by scan planning — remove the dirty directory before
        # reading the store (the admission write below recreates it).
        shutil.rmtree(
            os.path.join(store_dir, f"admit_batch={batch_id}"),
            ignore_errors=True,
        )
        # Explicit schema: the store rows are exactly the signature
        # table this handler writes, plus the admit_batch partition
        # column — never infer from footers on the recovery path.
        store_schema = StructType(
            list(batch_sigs.schema.fields)
            + [StructField("admit_batch", LongType())]
        )
        store_sigs = (
            spark.read.schema(store_schema)
            .option("basePath", store_dir)
            .parquet(store_dir)
            .where(F.col("admit_batch") < F.lit(batch_id))
            .drop("admit_batch")
        )
        pairs = incremental_minhash_dups(
            None,
            batch,
            verify_threshold=verify_threshold,
            store_sigs=store_sigs,
            incoming_sigs=batch_sigs,
        ).localCheckpoint()
        pairs.write.mode("overwrite").parquet(
            os.path.join(flags_dir, f"batch={batch_id}")
        )
        # Distributed admission filter: anti-join against the flagged
        # ids instead of collect()+isin — no driver round-trip whose
        # size grows with the batch's dup rate.
        admitted = batch_sigs.join(
            pairs.select(F.col("incoming_id").alias("_id")).distinct(),
            on="_id",
            how="left_anti",
        )
        admitted.write.mode("overwrite").parquet(
            os.path.join(store_dir, f"admit_batch={batch_id}")
        )

    return handle


def windowed_cms_counters(
    events: DataFrame,
    key: "F.Column",
    window: str = "1 hour",
    watermark: str = "2 hours",
    depth: int = 3,
    width: int = 64,
) -> DataFrame:
    """Count-min sketch state maintained incrementally per tumbling
    window — heavy-hitter counting over a stream without per-key state.

    Each event explodes into ``depth`` salted bucket rows (stateless,
    map-side), then ONE streaming aggregate on (window, d, bucket):
    state per window is bounded at depth×width counters however many
    distinct keys flow through — the property that makes a sketch the
    right streaming shape (a per-key count would grow state with
    cardinality; the watermark ages whole windows out). Point estimates
    come from the batch-side ``operators/sketches.cms_point_estimates``
    probe math over the emitted counter table.
    """
    from ..operators.sketches import hash60

    salts = F.array(*[F.lit(str(d)) for d in range(depth)])
    exploded = events.select(
        "ts", F.posexplode(salts).alias("d", "salt"), key.alias("k")
    ).select(
        "ts",
        "d",
        (hash60(F.concat(F.col("salt"), F.lit("|"), F.col("k"))) % width).alias(
            "bucket"
        ),
    )
    return (
        exploded.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
