from __future__ import annotations

from datetime import datetime

from go_nonrat_annotation_pipeline_spark.streaming.late import (
    late_data_audit,
)
from go_nonrat_annotation_pipeline_spark.streaming.replay import replay

US = 1_000_000


def _audit(spark, batches, delay_us):
    frames = [
        spark.createDataFrame(rows, "event_id long, ts timestamp")
        for rows in batches
    ]
    with replay(spark, frames) as r:
        return late_data_audit(r.stream, delay_us)


def _t(minute):
    return datetime(2024, 1, 1, 12, minute)


def test_watermark_rule_batch_boundaries(spark):
    # delay = 5 min. Batch 0: max 12:30 (never late). Batch 1 wm =
    # 12:25 — 12:20 late, 12:25 exactly-at-wm NOT late (strict <),
    # 12:40 on time. Batch 2 wm = 12:35 (batch 1 raised max to 12:40)
    # — 12:34 late, 12:35 not, 12:50 on time.
    batches = [
        [(1, _t(0)), (2, _t(30))],
        [(3, _t(20)), (4, _t(25)), (5, _t(40))],
        [(6, _t(34)), (7, _t(35)), (8, _t(50))],
    ]
    out = {
        r.batch_id: (r.n_late, r.n_ontime, r.wm_base_us)
        for r in _audit(spark, batches, 5 * 60 * US).collect()
    }
    ep = lambda m: int(_t(m).timestamp()) * US  # noqa: E731
    assert out[0] == (0, 2, ep(30))
    assert out[1] == (1, 2, ep(40))
    assert out[2] == (1, 2, ep(50))


def test_monotone_watermark_survives_regressing_batch_max(spark):
    # batch 1's max (12:10) is BELOW batch 0's (12:30): the watermark
    # base must not regress, so batch 2 is judged against 12:30.
    batches = [
        [(1, _t(30))],
        [(2, _t(10))],  # late itself, and must not lower the wm
        [(3, _t(24)), (4, _t(26))],
    ]
    out = {
        r.batch_id: (r.n_late, r.n_ontime, r.wm_base_us)
        for r in _audit(spark, batches, 5 * 60 * US).collect()
    }
    ep = lambda m: int(_t(m).timestamp()) * US  # noqa: E731
    assert out[1] == (1, 0, ep(30))  # wm base stays 12:30
    assert out[2] == (1, 1, ep(30))  # 12:24 late vs 12:25 wm; 12:26 ok
