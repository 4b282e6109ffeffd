from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from go_nonrat_annotation_pipeline_spark.operators.scd import scd2_history
from go_nonrat_annotation_pipeline_spark.streaming.replay import replay
from go_nonrat_annotation_pipeline_spark.streaming.scd_stream import (
    scd2_dimension_stream,
)


def _dimension(spark, rows, splits):
    """Replay rows (already time-ordered) as len(splits) + 1 batches cut
    at the index points in splits; return the maintained dimension."""
    schema = "event_id long, user_id long, ts timestamp, event_type string"
    bounds = [0, *splits, len(rows)]
    frames = [
        spark.createDataFrame(rows[bounds[i]:bounds[i + 1]], schema)
        for i in range(len(bounds) - 1)
    ]
    with replay(spark, frames) as r:
        return scd2_dimension_stream(r.stream)


ROWS = [
    # user 1: run of a, then b (change lands mid-batch-boundary below)
    (1, 1, datetime(2024, 1, 1, 0, 0), "a"),
    (2, 1, datetime(2024, 1, 1, 0, 1), "a"),
    (3, 1, datetime(2024, 1, 1, 0, 2), "b"),
    # user 2: constant across every batch (open interval must MERGE
    # through both batch boundaries, never split)
    (4, 2, datetime(2024, 1, 1, 0, 0), "x"),
    (5, 2, datetime(2024, 1, 1, 0, 3), "x"),
    (6, 2, datetime(2024, 1, 1, 0, 6), "x"),
    # user 3: appears only in the last batch (new key mid-stream)
    (7, 3, datetime(2024, 1, 1, 0, 7), "p"),
    (8, 1, datetime(2024, 1, 1, 0, 8), "a"),
    (9, 2, datetime(2024, 1, 1, 0, 9), "y"),
]


def _canon(df):
    rows = [
        (
            r.user_id,
            r.attr,
            r.valid_from_us,
            r.valid_to_us,
            r.version,
            r.is_current,
        )
        for r in df.collect()
    ]
    # None-safe ordering: NULL attrs/bounds are legal values here
    return sorted(rows, key=lambda t: tuple((x is None, x) for x in t))


NULL_ROWS = [
    # user 4: NULL attr is a legal tracked value — a run like any
    # other. Open NULL-run must survive batch boundaries (merge at
    # [1]/[2] splits), close when a non-null arrives, and a non-null
    # run must close when NULL arrives (ADVICE r6 state-loss fix).
    (1, 4, datetime(2024, 1, 1, 0, 0), None),
    (2, 4, datetime(2024, 1, 1, 0, 1), None),
    (3, 4, datetime(2024, 1, 1, 0, 2), "a"),
    (4, 4, datetime(2024, 1, 1, 0, 3), None),
    # user 5: ends the stream on an open NULL run
    (5, 5, datetime(2024, 1, 1, 0, 1), "z"),
    (6, 5, datetime(2024, 1, 1, 0, 4), None),
]


def test_stream_equals_batch_rebuild_any_batching(spark):
    schema = "event_id long, user_id long, ts timestamp, event_type string"
    want = _canon(scd2_history(spark.createDataFrame(ROWS, schema)))
    for splits in ([3], [3, 6], [2, 4, 7]):
        got = _canon(_dimension(spark, ROWS, splits))
        assert got == want, f"splits={splits}"


def test_constant_key_never_splits(spark):
    dim = _dimension(spark, ROWS, [3, 6])
    u2 = [r for r in dim.collect() if r.user_id == 2]
    # x-run spans batches 0,1,2 as ONE interval, then changes to y
    attrs = sorted((r.attr, r.version) for r in u2)
    assert attrs == [("x", 1), ("y", 2)]
    x = next(r for r in u2 if r.attr == "x")
    assert x.is_current == 0 and x.valid_to_us is not None


def test_single_open_interval_per_key(spark):
    dim = _dimension(spark, ROWS, [4])
    cur = dim.where(F.col("is_current") == 1)
    assert cur.count() == cur.select("user_id").distinct().count() == 3


def test_null_attr_runs_maintained_equals_rebuild(spark):
    schema = "event_id long, user_id long, ts timestamp, event_type string"
    want = _canon(scd2_history(spark.createDataFrame(NULL_ROWS, schema)))
    # batch semantics: NULL runs collapse null-safely
    assert [
        (u, a, v) for (u, a, _f, _t, v, _c) in want
    ] == [
        # None-safe canon order puts non-null attrs first per key
        (4, "a", 2),
        (4, None, 1),
        (4, None, 3),
        (5, "z", 1),
        (5, None, 2),
    ]
    for splits in ([2], [2, 4], [1, 3, 5]):
        got = _canon(_dimension(spark, NULL_ROWS, splits))
        assert got == want, f"splits={splits}"
