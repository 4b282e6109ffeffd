"""Contract of streaming/replay.py — each case is built here on
purpose, independently of the plan modules that use the helper — and
a guard that keeps the package from growing its own staging or drain
copies again."""

from __future__ import annotations

import inspect
import os
import pathlib

import pytest

import go_nonrat_annotation_pipeline_spark as pkg
from go_nonrat_annotation_pipeline_spark.streaming import stream as ST
from go_nonrat_annotation_pipeline_spark.streaming.replay import (
    drain,
    replay,
    stage,
)

SCHEMA = "tag long, v long"


def _frame(spark, tag, n=2):
    return spark.createDataFrame([(tag, j) for j in range(n)], SCHEMA)


def _recorder(seen):
    def handle(batch_df, batch_id):
        seen.append((batch_id, sorted({r.tag for r in batch_df.collect()})))

    return handle


def test_reverse_write_order_replays_in_index_order(spark):
    seen = []
    with replay(spark, [_frame(spark, 0)]) as r:
        # written last-first: without the mtime pin the file source
        # would replay 3, 2, 1
        for i in (3, 2, 1):
            stage(_frame(spark, i), r.staged, i)
        drain(r.stream, _recorder(seen))
    assert seen == [(0, [0]), (1, [1]), (2, [2]), (3, [3])]


def test_empty_middle_frame_keeps_its_trigger(spark):
    seen = []
    batches = [_frame(spark, 0), _frame(spark, 1, n=0), _frame(spark, 2)]
    with replay(spark, batches) as r:
        drain(r.stream, _recorder(seen))
    assert seen == [(0, [0]), (1, []), (2, [2])]


def test_handler_error_propagates_and_cleans_up(spark):
    class Boom(Exception):
        pass

    def handle(batch_df, batch_id):
        raise Boom("handler failed")

    roots = []
    with pytest.raises(Exception, match="handler failed"):
        with replay(spark, [_frame(spark, 0)]) as r:
            roots.append(r.root)
            drain(r.stream, handle)
    assert spark.streams.active == []
    assert not os.path.exists(roots[0])


def test_second_drain_on_same_checkpoint_replays_only_new_file(spark):
    first, second = [], []
    with replay(spark, [_frame(spark, 0), _frame(spark, 1)]) as r:
        ckpt = os.path.join(r.root, "ckpt")
        drain(r.stream, _recorder(first), checkpoint=ckpt)
        stage(_frame(spark, 2), r.staged, 2)
        drain(r.stream, _recorder(second), checkpoint=ckpt)
    assert first == [(0, [0]), (1, [1])]
    assert second == [(2, [2])]


def test_no_staging_or_drain_copies_outside_replay():
    """Only streaming/replay.py stages micro-batch files or drains a
    query. The one exception is stream.run_to_memory, which drains a
    memory sink over the original file (a different mechanism)."""
    root = pathlib.Path(pkg.__file__).parent
    needles = ("os.utime(", "maxFilesPerTrigger", "processAllAvailable")
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "streaming" / "replay.py":
            continue
        text = path.read_text()
        if path == root / "streaming" / "stream.py":
            text = text.replace(inspect.getsource(ST.run_to_memory), "")
        offenders += [
            f"{path.relative_to(root)}: {n}" for n in needles if n in text
        ]
    assert offenders == []
