"""Streaming extension tests: stateful sessionization parity with the
batch window formulation, and the foreachBatch → MERGE bridge that maps
the reference's incremental-upsert model onto Structured Streaming."""

from __future__ import annotations

import os
from datetime import date, datetime

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_nonrat_annotation_pipeline_spark import schemas as S
from go_nonrat_annotation_pipeline_spark.sources.testdata import load_table
from go_nonrat_annotation_pipeline_spark.streaming.replay import drain, replay
from go_nonrat_annotation_pipeline_spark.streaming.stream import (
    merge_into_store,
    read_events_stream,
    run_to_memory,
    stateful_sessions,
)
from go_nonrat_annotation_pipeline_spark.pipeline.sink import AnnotStore

SF = "/root/testdata/sf0.001"


def test_stateful_sessions_match_batch(spark):
    """The applyInPandasWithState operator reproduces the batch
    lag+cumsum sessionization exactly on a bounded source."""
    stream_out = run_to_memory(
        stateful_sessions(
            read_events_stream(spark, os.path.join(SF, "events.parquet")), 30
        ),
        "update",
    )
    ev = load_table(spark, SF, "events")
    w = W.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    batch = (
        ev.withColumn("is_new", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .select(
            "user_id",
            "ts",
            F.sum("is_new")
            .over(w.rowsBetween(W.unboundedPreceding, 0))
            .cast("int")
            .alias("session_id"),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
    assert stream_out.count() == batch.count()
    assert stream_out.exceptAll(batch).isEmpty()
    assert batch.exceptAll(stream_out).isEmpty()


INCOMING_SCHEMA = T.StructType(
    [
        f
        for f in S.FULL_ANNOT_SCHEMA.fields
        if f.name not in ("full_annot_key", "created_date", "last_modified_date")
    ]
)


def _incoming_row(term_acc: str, rgd_id: int, xref: str) -> dict:
    base = {f.name: None for f in INCOMING_SCHEMA.fields}
    base.update(
        term="t",
        annotated_object_rgd_id=rgd_id,
        rgd_object_key=1,
        evidence="IDA",
        term_acc=term_acc,
        created_by=190,
        last_modified_by=190,
        xref_source=xref,
        ref_rgd_id=1,
        original_created_date=date(2024, 1, 1),
    )
    return base


@pytest.fixture()
def incoming_dir(spark, tmp_path):
    rows = [
        _incoming_row("GO:0000001", 101, "PMID:1"),
        _incoming_row("GO:0000002", 102, "PMID:2"),
    ]
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in INCOMING_SCHEMA.fields) for r in rows],
        INCOMING_SCHEMA,
    )
    path = str(tmp_path / "incoming")
    df.coalesce(1).write.parquet(path)
    return path


def test_foreach_batch_merge(spark, tmp_path, incoming_dir):
    store = AnnotStore(spark, str(tmp_path / "fa"))
    store.init_empty()
    stream = spark.readStream.schema(INCOMING_SCHEMA).parquet(incoming_dir)

    stats = merge_into_store(stream, store, datetime(2026, 6, 1, 12, 0, 0))
    assert sum(s.inserted for s in stats) == 2
    assert store.read().count() == 2

    # replay: the MERGE is idempotent — everything classifies as touch
    stream2 = spark.readStream.schema(INCOMING_SCHEMA).parquet(incoming_dir)
    stats2 = merge_into_store(stream2, store, datetime(2026, 6, 2, 12, 0, 0))
    assert sum(s.inserted for s in stats2) == 0
    assert sum(s.updated for s in stats2) == 0
    assert sum(s.touched for s in stats2) == 2
    assert store.read().count() == 2


def test_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join on crafted rows: boundary-inclusive
    at -60min, exclusive at the purchase instant, user-scoped."""
    from datetime import timedelta

    from go_nonrat_annotation_pipeline_spark.streaming.stream import (
        interval_join_purchases_clicks,
    )

    t0 = datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        # (event_id, ts, user, type)
        (1, t0, 7, "purchase"),
        (2, t0 - timedelta(minutes=60), 7, "click"),   # boundary: included
        (3, t0 - timedelta(minutes=61), 7, "click"),   # too old
        (4, t0, 7, "click"),                            # same instant: excluded
        (5, t0 - timedelta(minutes=5), 8, "click"),     # other user
        (6, t0 - timedelta(minutes=1), 7, "click"),     # included
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    path = str(tmp_path / "ev")
    df.coalesce(1).write.parquet(path)
    sch = "event_id long, ts timestamp, user_id long, event_type string"
    mk = lambda t: (  # noqa: E731
        spark.readStream.schema(sch).parquet(path).where(F.col("event_type") == t)
    )
    out = run_to_memory(
        interval_join_purchases_clicks(mk("purchase"), mk("click"), 60), "append"
    )
    got = {(r.purchase_id, r.click_id) for r in out.collect()}
    assert got == {(1, 2), (1, 6)}


def test_dedup_stream_first_seen(spark, tmp_path):
    from go_nonrat_annotation_pipeline_spark.streaming.stream import dedup_stream

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "a"), (2, "b"), (1, "a")], "k long, t string"
    )
    path = str(tmp_path / "dup")
    df.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema("k long, t string").parquet(path)
    out = run_to_memory(dedup_stream(stream, ["k", "t"]), "append")
    assert {(r.k, r.t) for r in out.collect()} == {(1, "a"), (2, "a"), (2, "b")}


def test_watermark_drops_late_rows_in_append(spark, tmp_path):
    """Two micro-batches through the file source: a row arriving in
    batch 2 that is older than (max_seen_ts - watermark) must NOT revise
    windows already finalized in append mode."""
    from datetime import timedelta

    from go_nonrat_annotation_pipeline_spark.streaming.stream import tumbling_counts

    sch = "event_id long, ts timestamp, user_id long, event_type string, value double"
    path = str(tmp_path / "late_src")
    os.makedirs(path)
    t0 = datetime(2026, 1, 1, 0, 30, 0)

    def write_batch(rows, name):
        spark.createDataFrame(rows, sch).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, name))

    # batch 1: events at hour 0 and hour 6 — watermark (2h) advances to 4:00,
    # closing the hour-0 window
    write_batch(
        [
            (1, t0, 7, "click", 1.0),
            (2, t0 + timedelta(hours=6), 7, "click", 1.0),
        ],
        "b1",
    )
    stream = (
        spark.readStream.schema(sch)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    agg = tumbling_counts(stream, "1 hour", "2 hours")
    name = "late_test_sink"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE row for hour 0 (behind the 4:00 watermark) and a
        # fresh row at hour 7
        write_batch(
            [
                (3, t0 + timedelta(minutes=5), 7, "click", 1.0),  # late, dropped
                (4, t0 + timedelta(hours=7), 7, "click", 1.0),
            ],
            "b2",
        )
        q.processAllAvailable()
    finally:
        q.stop()
    out = {
        (r["window"]["start"].hour, r["n"]) for r in spark.table(name).collect()
    }
    # hour-0 window emitted once with n=1 — the late row never re-counted
    assert (0, 1) in out
    assert (0, 2) not in out


def test_checkpoint_restart_foreach_batch_merge(spark, tmp_path, incoming_dir):
    """Restart-recovery THROUGH the foreachBatch → MERGE bridge: stop
    after the first committed micro-batch, add a second incoming file
    (one replayed key + one new key), restart against the SAME
    checkpointLocation, and assert exactly-once upsert effects — the
    committed batch is not re-delivered, the replayed key classifies as
    touch (reference semantics: MAHDL.java:127-187 idempotent touch),
    and the store ends with exactly one row per key.

    The handler is inline rather than merge_into_store because the
    restart needs a checkpointLocation; the merge path exercised —
    foreachBatch → AnnotStore.merge_upsert — is the identical store
    call.
    """
    store = AnnotStore(spark, str(tmp_path / "fa_ckpt"))
    store.init_empty()
    src = str(tmp_path / "incoming_ckpt")
    ckpt = str(tmp_path / "merge_ckpt")
    os.makedirs(src)

    def write_incoming(rows, name):
        df = spark.createDataFrame(
            [tuple(r[f.name] for f in INCOMING_SCHEMA.fields) for r in rows],
            INCOMING_SCHEMA,
        )
        df.coalesce(1).write.parquet(os.path.join(src, name))

    def run_once(run_ts):
        stats = []

        def handle(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            stats.append(store.merge_upsert(batch_df, run_ts))

        stream = (
            spark.readStream.schema(INCOMING_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        drain(stream, handle, checkpoint=ckpt)
        return stats

    # micro-batch 1: two fresh annotations, committed to the checkpoint
    write_incoming(
        [
            _incoming_row("GO:0000001", 101, "PMID:1"),
            _incoming_row("GO:0000002", 102, "PMID:2"),
        ],
        "b1",
    )
    stats1 = run_once(datetime(2026, 6, 1, 12, 0, 0))
    assert sum(s.inserted for s in stats1) == 2
    assert store.read().count() == 2

    # "kill" happened here (query stopped); micro-batch 2 arrives: one
    # key replayed from b1 + one genuinely new key
    write_incoming(
        [
            _incoming_row("GO:0000001", 101, "PMID:1"),  # replay → touch
            _incoming_row("GO:0000003", 103, "PMID:3"),  # new → insert
        ],
        "b2",
    )
    stats2 = run_once(datetime(2026, 6, 2, 12, 0, 0))
    # exactly-once: the restart processed ONLY b2 (2 rows), never re-ran b1
    assert sum(s.inserted for s in stats2) == 1
    assert sum(s.touched for s in stats2) == 1
    assert sum(s.updated for s in stats2) == 0
    final = store.read()
    assert final.count() == 3
    assert final.select("term_acc").distinct().count() == 3


def test_checkpoint_restart_no_reprocessing(spark, tmp_path):
    """Stop/restart against the same checkpointLocation: committed
    micro-batches are not re-emitted (exactly-once file-source replay)."""
    sch = "event_id long, v long"
    src = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def write_src(rows, name):
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(
            os.path.join(src, name)
        )

    def start():
        stream = (
            spark.readStream.schema(sch)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        return (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )

    write_src([(1, 10), (2, 20)], "b1")
    q = start()
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(out_dir).count() == 2

    # restart from the same checkpoint; only the new file is processed
    write_src([(3, 30)], "b2")
    q = start()
    q.processAllAvailable()
    q.stop()
    rows = {(r.event_id, r.v) for r in spark.read.parquet(out_dir).collect()}
    assert rows == {(1, 10), (2, 20), (3, 30)}  # no duplicates, no loss


# ---------------------------------------------------------------------------
# streaming incremental dedup (accumulating store)
# ---------------------------------------------------------------------------
def test_incremental_dedup_stream_accumulates_store(spark):
    """A doc admitted in batch 0 must flag its near-dup arriving in
    batch 1 — the store accumulates; and a batch-1 dup of the INITIAL
    store is flagged too."""
    from go_nonrat_annotation_pipeline_spark.streaming.stream import (
        incremental_dedup_stream,
    )

    t_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t_b = "one two three four five six seven eight nine ten eleven"
    store0 = spark.createDataFrame([(100, t_a)], "doc_id long, text string")
    batches = [
        [(200, t_b)],                       # novel -> admitted
        [(300, t_b), (400, t_a)],           # 300 dups admitted 200; 400 dups store 100
    ]
    with replay(spark, _doc_frames(spark, batches)) as r:
        out = incremental_dedup_stream(r.stream, store0).collect()
    pairs = {(r.incoming_id, r.store_id): r.jaccard for r in out}
    assert set(pairs) == {(300, 200), (400, 100)}
    assert all(j == 1.0 for j in pairs.values())


def test_windowed_cms_never_undercounts(spark):
    """CMS upper-bound property holds per streaming window: the MIN over
    depth counters at a key's buckets >= the key's true count."""
    import os

    from pyspark.sql import functions as F

    from go_nonrat_annotation_pipeline_spark.operators.sketches import hash60
    from go_nonrat_annotation_pipeline_spark.sources.testdata import load_table
    from go_nonrat_annotation_pipeline_spark.streaming.stream import (
        read_events_stream,
        run_to_memory,
        windowed_cms_counters,
    )

    sf = "/root/testdata/sf0.001"
    depth, width = 3, 64
    events = read_events_stream(spark, os.path.join(sf, "events.parquet"))
    counters = run_to_memory(
        windowed_cms_counters(
            events, F.col("user_id").cast("string"), depth=depth, width=width
        ),
        "complete",
    ).select(
        F.col("window.start").alias("ws"), "d", "bucket", "cnt"
    ).localCheckpoint()

    batch = load_table(spark, sf, "events")
    truth = (
        batch.groupBy(
            F.date_trunc("hour", "ts").alias("ws"),
            F.col("user_id").cast("string").alias("k"),
        )
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"))
        .limit(20)
    )
    probes = truth.select(
        "ws",
        "k",
        "true_cnt",
        F.posexplode(
            F.array(*[F.lit(str(d)) for d in range(depth)])
        ).alias("d", "salt"),
    ).select(
        "ws",
        "k",
        "true_cnt",
        "d",
        (hash60(F.concat(F.col("salt"), F.lit("|"), F.col("k"))) % width).alias(
            "bucket"
        ),
    )
    est = (
        probes.join(counters, ["ws", "d", "bucket"])
        .groupBy("ws", "k", "true_cnt")
        .agg(F.min("cnt").alias("est"))
    )
    rows = est.collect()
    assert len(rows) == 20
    assert all(r.est >= r.true_cnt for r in rows)


def _doc_frames(spark, batches):
    return [
        spark.createDataFrame(rows, "doc_id long, text string")
        for rows in batches
    ]


def test_incremental_dedup_store_restart_recovery(spark, tmp_path):
    """Kill/restart recovery for the ACCUMULATING signature store
    (mirrors the exactly-once MERGE restart test): the first run
    crashes INSIDE batch 1 — after its offsets are logged and after a
    dirty half-written store partition hits disk, but before commit —
    then a restart against the same checkpointLocation reprocesses
    batch 1 under the same id and drains batch 2. Asserts no lost and
    no duplicated admissions or flags."""
    import go_nonrat_annotation_pipeline_spark.streaming.stream as ST
    from go_nonrat_annotation_pipeline_spark.operators.dedup import (
        minhash_signatures,
    )

    t_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t_b = "one two three four five six seven eight nine ten eleven"
    t_c = "red orange yellow green blue indigo violet cyan magenta white"
    store0 = spark.createDataFrame([(100, t_a)], "doc_id long, text string")
    batches = [
        [(200, t_b)],                 # novel -> admitted
        [(300, t_b), (500, t_c)],     # 300 dups admitted 200; 500 novel
        [(400, t_a), (600, t_c)],     # 400 dups store 100; 600 dups admitted 500
    ]
    store_dir = str(tmp_path / "store")
    flags_dir = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")

    # --- first run: real handler for batch 0, simulated kill in batch 1
    minhash_signatures(store0.select("doc_id", "text")).write.mode(
        "overwrite"
    ).parquet(os.path.join(store_dir, "admit_batch=-1"))
    real = ST._incdedup_make_handler(spark, store_dir, flags_dir, 0.7)

    def crashing(batch_df, batch_id):
        if batch_id >= 1:
            # half-written garbage a mid-write kill could leave behind
            minhash_signatures(
                spark.createDataFrame(
                    [(999, t_b)], "doc_id long, text string"
                )
            ).write.mode("overwrite").parquet(
                os.path.join(store_dir, f"admit_batch={batch_id}")
            )
            raise RuntimeError("simulated kill mid-batch")
        real(batch_df, batch_id)

    with replay(spark, _doc_frames(spark, batches)) as feed:
        with pytest.raises(Exception, match="simulated kill|Query .* terminated"):
            drain(feed.stream, crashing, checkpoint=ckpt)

        # the crash left batch 0 committed, batch 1 dirty on disk
        store_mid = spark.read.parquet(store_dir)
        assert 999 in {r._id for r in store_mid.select("_id").collect()}

        # --- restart from the same checkpoint -------------------------
        ST.incremental_dedup_stream_durable(
            feed.stream, store0, store_dir, flags_dir, ckpt,
            verify_threshold=0.7,
        )

    # --- invariants ----------------------------------------------------
    store = spark.read.parquet(store_dir)
    admitted = sorted(r._id for r in store.select("_id").collect())
    # no lost, no duplicated admissions; the dirty 999 row was overwritten
    assert admitted == [100, 200, 500]
    flags = spark.read.parquet(flags_dir)
    got = sorted((r.incoming_id, r.store_id) for r in flags.collect())
    assert got == [(300, 200), (400, 100), (600, 500)]
    # every flagged jaccard is the exact-dup 1.0 by construction
    assert all(r.jaccard == 1.0 for r in flags.collect())


def test_incremental_dedup_store_truncated_file_and_bulk_dups(
    spark, tmp_path
):
    """Restart recovery when the kill leaves a TRUNCATED part-file
    (corrupt parquet footer, not a fully-written garbage partition) in
    the dirty store partition, and the replayed batch carries a BULK
    dup set. Exercises the recovery hardening of the handler: dirty
    admit_batch=<id> directory removed before the store read, the read
    bound to an explicit schema (never footer inference), and the
    admission filter running as a distributed anti-join (no driver
    collect bounded by the batch's dup rate)."""
    import go_nonrat_annotation_pipeline_spark.streaming.stream as ST
    from go_nonrat_annotation_pipeline_spark.operators.dedup import (
        minhash_signatures,
    )

    t_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t_b = "one two three four five six seven eight nine ten eleven"
    t_c = "red orange yellow green blue indigo violet cyan magenta white"
    n_dup = 120
    store0 = spark.createDataFrame([(100, t_a)], "doc_id long, text string")
    batches = [
        [(200, t_b)],  # novel -> admitted
        # bulk dup set: every 1000+i exactly duplicates admitted 200
        [(1000 + i, t_b) for i in range(n_dup)] + [(500, t_c)],
    ]
    store_dir = str(tmp_path / "store")
    flags_dir = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")

    minhash_signatures(store0.select("doc_id", "text")).write.mode(
        "overwrite"
    ).parquet(os.path.join(store_dir, "admit_batch=-1"))
    real = ST._incdedup_make_handler(spark, store_dir, flags_dir, 0.7)

    def crashing(batch_df, batch_id):
        if batch_id >= 1:
            # a mid-write kill's worst artifact: a part-file whose
            # parquet footer is truncated garbage
            dirty = os.path.join(store_dir, f"admit_batch={batch_id}")
            os.makedirs(dirty, exist_ok=True)
            with open(
                os.path.join(dirty, "part-00000-dead.snappy.parquet"), "wb"
            ) as f:
                f.write(b"PAR1\x00\x01\x02truncated-mid-write")
            raise RuntimeError("simulated kill mid-batch")
        real(batch_df, batch_id)

    with replay(spark, _doc_frames(spark, batches)) as feed:
        with pytest.raises(Exception, match="simulated kill|Query .* terminated"):
            drain(feed.stream, crashing, checkpoint=ckpt)

        # restart against the same checkpoint replays batch 1 and must
        # not trip over the corrupt footer
        ST.incremental_dedup_stream_durable(
            feed.stream, store0, store_dir, flags_dir, ckpt,
            verify_threshold=0.7,
        )

    store = spark.read.parquet(store_dir)
    admitted = sorted(r._id for r in store.select("_id").distinct().collect())
    assert admitted == [100, 200, 500]
    flags = spark.read.parquet(flags_dir).collect()
    assert sorted(r.incoming_id for r in flags) == [
        1000 + i for i in range(n_dup)
    ]
    assert {r.store_id for r in flags} == {200}
    assert all(r.jaccard == 1.0 for r in flags)
