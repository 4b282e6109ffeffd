"""Durable streaming join-view maintenance WITH deletes.

The retraction extension of streaming/ivm_store.py (left byte-intact —
its insert-only contract is the attested shape; VERDICT r7 #7 asked for
the CDC-delete path as the next step). Feed rows carry
(side 'L'|'R', op 'I'|'D', k, attr, qty); everything else follows the
ivm_store recovery contract verbatim:

- offsets log before foreachBatch → a killed batch replays with the
  SAME id; all three writers overwrite their own ``=<id>`` partition,
  so replay is idempotent;
- batch N probes bases at ``admit_batch < N`` — the pre-batch signed
  stores even when a dirty ``=N`` partition survived (removed up
  front);
- commit only after all three partitions land.

The stores and the view hold SIGNED rows (append-only — a delete is a
−1 row, never an in-place update); ``read_view_net`` gives the
materialized join. After a drain, net(view) equals the full join of
the net post-CDC bases regardless of batching, crash points, or
insert/delete interleaving (Z-relation algebra — see
operators/incrjoin_retract.py; tests/test_ivm_retract.py kills and
replays across delete batches).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, functions as F

from ..operators.incrjoin_retract import (
    delta_join_retract,
    net_rows,
    with_sign,
)
from .ivm_store import _read_store
from .replay import drain

L_SCHEMA = "k long, attr string, sign long"
R_SCHEMA = "k long, qty long, sign long"


def make_ivm_retract_handler(spark, l_dir: str, r_dir: str, view_dir: str):
    """Per-batch signed fold (factored out for the crash-replay test).
    Batch rows: (side, op, k, attr, qty)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        signed = with_sign(batch_df, "op")
        dl = (
            signed.where("side = 'L'")
            .select("k", "attr", "sign")
            .localCheckpoint()
        )
        dr = (
            signed.where("side = 'R'")
            .select("k", "qty", "sign")
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
        dv = delta_join_retract(l_cur, dl, r_cur, dr, "k").localCheckpoint()
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


def join_view_stream_retract(
    feed: DataFrame,
    initial_l: DataFrame,
    initial_r: DataFrame,
    l_dir: str,
    r_dir: str,
    view_dir: str,
    checkpoint_loc: str,
) -> None:
    """Drain a tagged insert/delete CDC ``feed``, maintaining signed
    bases + signed view on disk. Initial bases are seeded at sign +1
    (idempotent — skipped when the seed partition exists)."""
    spark = feed.sparkSession
    for path, df in ((l_dir, initial_l), (r_dir, initial_r)):
        seed = os.path.join(path, "admit_batch=-1")
        if not os.path.isdir(seed):
            df.withColumn("sign", F.lit(1).cast("long")).write.mode(
                "overwrite"
            ).parquet(seed)
    drain(
        feed,
        make_ivm_retract_handler(spark, l_dir, r_dir, view_dir),
        checkpoint=checkpoint_loc,
    )


def committed_batch_frontier(l_dir: str, r_dir: str) -> int | None:
    """The newest batch id whose base admits BOTH landed (None when
    neither store has any partition). The handler writes view → L admit
    → R admit, and micro-batches are strictly sequential (batch N only
    starts after N-1 checkpoint-committed), so every view partition at
    or below this frontier is committed and only partitions ABOVE it
    can sit in the crash window between a view write and its base
    admits.

    Compaction folds historical admit partitions into the ``=-1`` seed,
    erasing their individual ids while their view partitions remain
    valid — the fold records the highest id it absorbed in the store's
    ``_folded_frontier`` marker (ivm_compact, ADVICE r10 #2), and a
    side "covers" batch id x when x is an explicit partition OR
    x <= its marker. Without the marker, a crash (or concurrent read)
    in the window between a fold and the next admit writes would
    collapse the id intersection to the seed and silently hide every
    committed view partition."""
    from .ivm_compact import folded_frontier

    def scan(d: str) -> tuple[set[int], int | None]:
        out: set[int] = set()
        if os.path.isdir(d):
            for name in os.listdir(d):
                if name.startswith("admit_batch="):
                    out.add(int(name.split("=", 1)[1]))
        return out, folded_frontier(d)

    (sl, ml), (sr, mr) = scan(l_dir), scan(r_dir)

    def covered(x: int, s: set[int], m: int | None) -> bool:
        return x in s or (m is not None and x <= m)

    cands = sl | sr
    cands.update(m for m in (ml, mr) if m is not None)
    good = [x for x in cands if covered(x, sl, ml) and covered(x, sr, mr)]
    return max(good) if good else None


def read_view_net(
    spark,
    view_dir: str,
    l_dir: str | None = None,
    r_dir: str | None = None,
) -> DataFrame:
    """The materialized join: net-fold the signed view partitions
    (the view dir partitions by ``batch=<id>``, not ``admit_batch``,
    so it is read directly rather than through _read_store).

    Pass ``l_dir``/``r_dir`` to make the read crash-safe mid-stream:
    view partitions above the committed-admit frontier are excluded
    (ADVICE r8 — a batch killed between the view write and the
    base-admit writes would otherwise surface a delta whose base state
    it never published; on replay that partition is rewritten).
    Without the base dirs the read assumes a clean drain, which the
    ``join_view_stream_retract`` stop contract guarantees."""
    from pyspark.sql.types import LongType, StructField, StructType

    base = spark.createDataFrame([], "k long, attr string, qty long, sign long")
    schema = StructType(
        list(base.schema.fields) + [StructField("batch", LongType())]
    )
    signed = (
        spark.read.schema(schema)
        .option("basePath", view_dir)
        .parquet(view_dir)
    )
    if l_dir is not None and r_dir is not None:
        frontier = committed_batch_frontier(l_dir, r_dir)
        signed = signed.where(
            F.col("batch") <= F.lit(int(frontier))
            if frontier is not None
            else F.lit(False)
        )
    return net_rows(signed.drop("batch"))
