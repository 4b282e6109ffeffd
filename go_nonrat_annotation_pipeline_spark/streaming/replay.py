"""Bounded stream replay: stage frames as micro-batch files, drain them
through ``foreachBatch``.

The engine exercises its incremental operators by replaying a table as
a file stream: each frame becomes one parquet file, the file source
reads one file per trigger, and a handler folds each micro-batch. This
module is the only code that stages those files and drains the query.

Contract:

- **One file per trigger.** :func:`stage` writes each frame as exactly
  one ``b{i}.parquet`` file, and the stream reads with
  ``maxFilesPerTrigger=1``, so frame ``i`` is micro-batch ``i``.
- **Order is pinned by mtime.** The file source orders new files by
  modification time, not by name or write order. :func:`stage` sets
  file ``i``'s mtime to ``1_600_000_000 + i``, so the triggers run in
  index order however the frames were written.
- **Empty frames keep their slot.** An empty frame still gets its one
  file, so its trigger fires with an empty batch and later batch ids
  do not shift. Handlers that want to skip empty batches check
  ``batch_df.isEmpty()`` themselves.
- **Staged files die with the temp root.** :func:`replay` removes its
  temp root on exit, including on error. A result that outlives the
  ``with`` block must not read the staged files (or anything else
  under the root) lazily: materialize it first, e.g. with
  ``localCheckpoint()``.

A second :func:`drain` on the same checkpoint resumes the query: only
files staged after the first drain are replayed.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager
from typing import Iterator, NamedTuple, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

_BASE_MTIME = 1_600_000_000


class Replay(NamedTuple):
    stream: DataFrame  # the staged files, one micro-batch per file
    root: str  # temp root; callers keep stores and checkpoints here
    staged: str  # the directory the stream reads; stage() more into it


def stage(df: DataFrame, staged_dir: str, i: int) -> None:
    """Write ``df`` as the single file ``b{i}.parquet`` in ``staged_dir``,
    pinned to mtime ``1_600_000_000 + i``."""
    tmp = f"{staged_dir}.tmp{i}"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    os.makedirs(staged_dir, exist_ok=True)
    dst = os.path.join(staged_dir, f"b{i}.parquet")
    shutil.move(os.path.join(tmp, part), dst)
    os.utime(dst, (_BASE_MTIME + i, _BASE_MTIME + i))
    shutil.rmtree(tmp)


@contextmanager
def replay(
    spark: SparkSession, batches: Sequence[DataFrame]
) -> Iterator[Replay]:
    """Stage ``batches`` (frame ``i`` is micro-batch ``i``) under a new
    temp root and yield a :class:`Replay` whose stream reads them one
    file per trigger. The stream's schema is the first frame's."""
    root = tempfile.mkdtemp(prefix="replay_")
    try:
        staged = os.path.join(root, "batches")
        for i, df in enumerate(batches):
            stage(df, staged, i)
        stream = (
            spark.readStream.schema(batches[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )
        yield Replay(stream, root, staged)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def drain(
    stream: DataFrame, handle, checkpoint: str | None = None
) -> StreamingQuery:
    """Run ``stream`` through ``foreachBatch(handle)`` until every
    available file is processed, then stop it. A handler error
    propagates after the query is stopped. Returns the stopped query
    (its ``recentProgress`` stays readable)."""
    writer = stream.writeStream.outputMode("append").foreachBatch(handle)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q
