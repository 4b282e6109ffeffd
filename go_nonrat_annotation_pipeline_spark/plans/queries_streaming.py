"""Structured Streaming query: tumbling-window aggregation over the
events stream, drained synchronously to a memory sink so the DuckDB
oracle (batch date_trunc equivalent) can hash-check the result.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..streaming.stream import (
    dedup_stream,
    interval_join_purchases_clicks,
    read_events_stream,
    run_to_memory,
    stateful_sessions,
)
from .registry import register


# stream_tumbling_agg moved to queries_r4_fixes.py (round 4): window
# start is now emitted as epoch-seconds BIGINT on both engines so the
# driver's timestamp hashing can't diverge.


@register(
    "stream_stateful_sessions",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
           CAST(epoch_us(MAX(ts)) AS BIGINT) AS session_end_us
    FROM sess GROUP BY 1, 2
    """,
    doc="streaming: stateful gap sessionization (applyInPandasWithState); "
    "session bounds as epoch-microseconds BIGINT (r5 boundary-type "
    "discipline: no raw TIMESTAMP columns at the driver hash boundary)",
)
def stream_stateful_sessions(spark, sf_dir):
    events = read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    out = run_to_memory(stateful_sessions(events, 30), "update")
    return out.select(
        "user_id",
        "session_id",
        "n_events",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
    )


@register(
    "stream_interval_join",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 60 MINUTE AND c.ts < p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    doc="streaming: watermarked stream-stream interval join (purchase←click)",
)
def stream_interval_join(spark, sf_dir):
    path = os.path.join(sf_dir, "events.parquet")
    ev_p = read_events_stream(spark, path).where(F.col("event_type") == "purchase")
    ev_c = read_events_stream(spark, path).where(F.col("event_type") == "click")
    return run_to_memory(
        interval_join_purchases_clicks(ev_p, ev_c, 60), "append"
    )


@register(
    "stream_dedup_keys",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="streaming: stateful dropDuplicates on (user_id, event_type)",
)
def stream_dedup_keys(spark, sf_dir):
    events = read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    return run_to_memory(
        dedup_stream(events, ["user_id", "event_type"]), "append"
    )


# ---------------------------------------------------------------------------
# Custom Python streaming source → aggregate, oracle-checked: the
# synthetic generator is a pure function of doc_id, so the expected
# per-lang counts are computed AT IMPORT into a VALUES oracle — a fully
# hash-checked streaming query over a custom DataSource.
# ---------------------------------------------------------------------------
def _synthetic_expected(rows: int = 2000) -> str:
    from collections import Counter

    from ..sources.synthetic import make_doc

    cnt = Counter()
    chars = Counter()
    for i in range(rows):
        d = make_doc(i)
        cnt[d[2]] += 1
        chars[d[2]] += d[4]
    values = ",\n      ".join(
        f"('{lang}', {cnt[lang]}, {chars[lang]})" for lang in sorted(cnt)
    )
    return (
        "SELECT * FROM (VALUES\n      "
        + values
        + "\n) t(lang, n_docs, total_chars)"
    )


@register(
    "stream_synthetic_agg",
    _synthetic_expected(2000),
    doc="streaming: custom Python DataSource stream → per-lang aggregate vs VALUES",
)
def stream_synthetic_agg(spark, sf_dir):
    from ..sources import synthetic

    synthetic.register(spark)
    stream = (
        spark.readStream.format("synthetic_docs")
        .option("rows", 2000)
        .option("rowsPerBatch", 500)
        .load()
    )
    agg = stream.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    return run_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
# Native session_window on a STREAM with watermark — Spark's built-in
# sessionization merging windows incrementally in state (vs. the custom
# applyInPandasWithState fold above; same oracle family as w2/w3).
# ---------------------------------------------------------------------------
@register(
    "stream_session_window",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    doc="streaming: native session_window + watermark (stateful merge); "
    "session start as epoch-microseconds BIGINT (r5 boundary-type "
    "discipline: no raw TIMESTAMP columns at the driver hash boundary)",
)
def stream_session_window(spark, sf_dir):
    events = read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            "n_events",
        )
    )
    return run_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
# E2E incremental upsert THROUGH the stream path: the mouse species job
# (GAF scan → QC → consolidation) replayed as three parquet
# micro-batches into foreachBatch → AnnotStore.merge_upsert, then the
# same threshold-guarded stale delete the batch job runs.
# Mirrors pipeline_e2e_upsert minus the chinchilla read-back job; the
# 9003 stale seed row is deleted, 9001 touches, 9002 updates, six rows
# insert. Safe to split across micro-batches: A4 consolidation leaves
# the 9-field merge key unique, and run_ts is pinned so every batch
# stamps identical timestamps.
# ---------------------------------------------------------------------------
def _stream_upsert_golden():
    # safe at module scope: queries_pipeline registers earlier in
    # plans/registry.py and does not import this module
    from .queries_pipeline import _GOLDEN_UPSERT, _sql_lit

    rows = [
        r
        for r in _GOLDEN_UPSERT
        # drop the chinchilla read-back insert (with_info = 'RGD:401'):
        # this variant runs only the mouse stream job
        if r[4] != "RGD:401"
    ]
    return (
        "SELECT * FROM (VALUES\n"
        + ",\n".join(
            "  (" + ", ".join(_sql_lit(v) for v in row) + ")" for row in rows
        )
        + "\n) t(term_acc, annotated_object_rgd_id, evidence, ref_rgd_id, "
        "with_info, xref_source, notes, data_src, object_symbol, "
        "created_date, last_modified_date)"
    )


@register(
    "stream_e2e_upsert",
    _stream_upsert_golden(),
    doc="streaming E2E: micro-batched mouse job -> foreachBatch MERGE + "
    "stale delete vs golden VALUES",
)
def stream_e2e_upsert(spark, sf_dir):
    import tempfile
    from datetime import timedelta

    from ..pipeline.config import MOUSE, PipelineConfig
    from ..pipeline.consolidate import consolidate_with_info, merge_duplicates
    from ..pipeline.fixtures import (
        MGI_REF,
        build_dims,
        seed_full_annot,
        write_mouse_gaf,
    )
    from ..pipeline.gaf import filter_sources, read_gaf
    from ..pipeline.qc import derive_annotations
    from ..pipeline.sink import AnnotStore
    from ..streaming.replay import replay
    from ..streaming.stream import merge_into_store
    from .queries_pipeline import _RUN_TS

    cfg = PipelineConfig()
    dims = build_dims(spark)
    with tempfile.TemporaryDirectory(prefix="stream_e2e_upsert_") as root:
        gaf_path = write_mouse_gaf(os.path.join(root, "mgi.gaf"))

        store = AnnotStore(spark, os.path.join(root, "full_annot"))
        store.seed(seed_full_annot(spark, cfg))
        count0 = store.count_for_ref(dims.rgd_ids, MGI_REF, MOUSE)

        # batch-derive the incoming annotations, then DELIVER them as a
        # stream of three micro-batches
        gaf = filter_sources(read_gaf(spark, [gaf_path]), cfg.mouse_sources)
        qc = derive_annotations(spark, gaf, dims, cfg, MOUSE, MGI_REF)
        incoming = (
            merge_duplicates(consolidate_with_info(qc.annots))
            .drop("source_db")
            .localCheckpoint()
        )
        qc.release()
        key = F.pmod(F.hash(*incoming.columns), F.lit(3))
        with replay(spark, [incoming.where(key == i) for i in range(3)]) as r:
            merge_into_store(r.stream, store, _RUN_TS)

        store.delete_stale(
            dims.rgd_ids,
            cfg.created_by,
            _RUN_TS - timedelta(minutes=cfg.stale_cutoff_minutes),
            MGI_REF,
            count0,
            cfg.stale_annot_delete_threshold,
            MOUSE,
        )
        # pinned before the store directory is removed
        return store.read().select(
            "term_acc",
            F.col("annotated_object_rgd_id").cast("int").alias(
                "annotated_object_rgd_id"
            ),
            "evidence",
            F.col("ref_rgd_id").cast("int").alias("ref_rgd_id"),
            "with_info",
            "xref_source",
            "notes",
            "data_src",
            "object_symbol",
            F.date_format("created_date", "yyyy-MM-dd HH:mm:ss").alias(
                "created_date"
            ),
            F.date_format("last_modified_date", "yyyy-MM-dd HH:mm:ss").alias(
                "last_modified_date"
            ),
        ).localCheckpoint()

