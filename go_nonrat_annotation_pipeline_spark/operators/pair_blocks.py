"""Blocked exact cosine pair-candidate generation — r13 optimization
round module.

The exact-pairs family (dedup_embedding_exact_pairs and its drained /
incremental / DBSCAN relatives) generated candidates as a row-per-pair
join: a-side × broadcast(compat) × b-side, then the 64-dim expression
cosine on EVERY candidate row. At the test SFs the compatibility table
prunes nothing (unclustered embeddings), so ~2M candidate rows each
carry BOTH vectors (128 doubles) through the join only to be killed by
the threshold — per the optimization guide §8, the heavy bytes cross
once per PAIR when they only need to cross once per CELL.

This module is the blocked form (guide §4.2 + §8): ship each
compatible cell's members ONCE per partner cell via a cogroup on
(ca, cb), run ONE numpy matmul per block, and emit only the id pairs
whose kernel cosine clears ``threshold - _SLACK``. The caller then
re-ranks the (tiny) survivor set with the oracle-exact expression
cosine — identical output values, because:

- NO FALSE NEGATIVES: a pair whose 6dp-ROUNDED expression cosine
  reaches ``t`` has expression cosine >= t - 5e-7; the kernel value
  differs from the expression fold only by float reassociation
  (~1e-13 relative), so it clears t - _SLACK = t - 1e-6 with margin.
  (The same _SLACK argument as operators/decontam_ann.probe_cells.)
- EXACT VALUES: survivors are re-scored with operators/dedup.cosine
  (the sequential JVM fold the DuckDB oracle mirrors) and re-filtered
  at the true threshold — false positives from the margin die here.

Block sizes are bounded by the cell sizes, which the hot-cell drains
(refine_hot_cells / drain_saturated_cells) cap upstream — exactly the
machinery that already bounds the old join's per-cell candidate
quadratics, so one matmul block stays worker-memory-sized at any
corpus size. Measured at sf0.1 (2k vecs, t=0.4, compat 64/64 — the
degrade-to-brute regime): 4.4-4.8s -> 1.7-2.0s for the identical
result set.

REGIME BRANCH: the cogroup pays one pandas/Arrow group per compat
pair, so per-cell blocks win exactly when they are FEW and BIG (the
<= k*k unfired-cell regime). After a FIRED drain the cell table is
hundreds of cells and the compat table tens of thousands of rows —
~C^2 tiny groups whose per-group constant dominates (measured
9.8s -> 42.5s on dedup_embedding_exact_pairs_drained_hot at sf0.1,
4.3x SLOWER than even the row-per-pair join). Above _MAX_BLOCKS
compat rows this module therefore COARSENS the blocking instead of
abandoning it (r14, VERDICT r13 Next #1): cells are bucketed into
G = ceil(sqrt(C)) SUPER-GROUPS and the cogroup keys on the group
pair, so Arrow groups are few (<= G^2 ~ C, not C^2) and big again
while each member row fans out at most G times (the row-per-pair
fallback fanned every row out once per compatible PARTNER CELL —
~2M candidate rows each carrying two 64-dim vectors at sf0.1 hot).
The superset proof transfers unchanged: a qualifying pair's cells
are compat (ball bound), so its GROUP pair is formed, the pair's
kernel cosine clears t - _SLACK inside that one block, and the
id-order mask emits each unordered pair exactly once (same
both-directions canonicalization as the per-cell form). Entries of
a super-block that belong to non-compat cell pairs are merely extra
computed dots — anything they emit above t - _SLACK is re-ranked by
the caller's oracle-exact cosine, so results are branch-agnostic.
Both branches yield (vec_id_a, vec_id_b, va, vb).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .decontam_ann import _SLACK, compatible_cell_pairs

# Per-cell-vs-super-group blocking crossover: 64 all-compatible cells
# emit 64*63 + 64 = 4096 compat rows, so the bound admits the whole
# unfired-drain regime (k <= 64 everywhere in this family) at per-cell
# granularity and coarsens anything denser into super-groups.
_MAX_BLOCKS = 4100


def _cell_groups(cell_ids: list[int], n_groups: int) -> dict[int, int]:
    """cell id -> super-group id: contiguous chunks of the sorted id
    list. Deterministic; the grouping steers BLOCKING only (which dots
    are computed together), never results — the kernel threshold mask
    decides emission and the caller re-ranks exactly."""
    ids = sorted(cell_ids)
    chunk = -(-len(ids) // max(n_groups, 1))
    return {cid: i // chunk for i, cid in enumerate(ids)}


def block_candidate_pairs(
    assigned: DataFrame,
    full_cells: list[tuple[int, list[float], float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "v",
    cell_col: str = "cell",
) -> DataFrame:
    """(vec_id_a, vec_id_b, va, vb) with vec_id_a < vec_id_b and kernel
    cosine >= threshold - _SLACK — a provable SUPERSET of every pair
    whose rounded expression cosine reaches ``threshold`` (module doc),
    from one numpy matmul per compatible (ca, cb) cell block, carrying
    both vectors so the caller can re-rank with the oracle-exact
    expression cosine without further joins.

    ``assigned`` must carry (id_col, vec_col, cell_col); ``full_cells``
    is the (cell_id, centroid, max_residual) table the compatibility
    bound needs. Both compat directions are emitted for ca != cb (the
    compatible_cell_pairs contract), so anchoring side A on ca and
    side B on cb with the id-order mask yields each unordered pair
    exactly once — the same canonicalization as the row-per-pair join.

    ``assigned`` may carry a ``res`` column (the residual to the
    assigned centroid); since r14 neither branch consumes it — the
    kernel threshold mask subsumes the old fallback branch's per-row
    residual tightening by computing the actual cosines.

    Self-join only: the incremental delta legs (ALL x NEW, NEW x OLD in
    queries_dedup_exact_incr) measured 1.25x SLOWER through this
    operator at sf0.1 — three per-leg cogroups each pay two Exchanges
    plus an Arrow stage spin-up that the zero-Exchange broadcast join
    never does — so that module keeps the direct form.
    """
    spark = assigned.sparkSession
    compat = compatible_cell_pairs(full_cells, threshold)
    if not compat:
        return spark.createDataFrame(
            [],
            "vec_id_a long, vec_id_b long, "
            "va array<double>, vb array<double>",
        )
    if len(compat) > _MAX_BLOCKS:
        # fired-drain regime (r14): coarsen to super-group blocks —
        # module doc REGIME BRANCH. Keys are (ga, gb) group pairs
        # derived from the compat pairs; each cell maps to the block
        # keys its group participates in, so a member row fans out at
        # most G = ceil(sqrt(C)) times instead of once per compatible
        # partner cell.
        ids_all = [int(cid) for cid, _, _ in full_cells]
        g = _cell_groups(ids_all, math.ceil(math.sqrt(len(ids_all))))
        super_pairs = sorted({(g[ca], g[cb]) for ca, cb in compat})
        by_ga: dict[int, list[int]] = {}
        by_gb: dict[int, list[int]] = {}
        for ga, gb in super_pairs:
            by_ga.setdefault(ga, []).append(gb)
            by_gb.setdefault(gb, []).append(ga)
        key_rows_l = [
            (cid, g[cid], gb)
            for cid in ids_all
            for gb in by_ga.get(g[cid], [])
        ]
        key_rows_r = [
            (cid, ga, g[cid])
            for cid in ids_all
            for ga in by_gb.get(g[cid], [])
        ]
    else:
        # unfired regime: per-cell blocks, keyed on the compat pair
        # itself (ca, cb) — few and big by the k <= 64 bound
        key_rows_l = [(int(a), int(a), int(b)) for a, b in compat]
        key_rows_r = [(int(b), int(a), int(b)) for a, b in compat]
    # two independent frames from the same driver-side list: lhs and
    # rhs must not share the key lineage or the cogroup trips the
    # ambiguous-self-join analyzer check
    keys_l = spark.createDataFrame(key_rows_l, "c long, ca long, cb long")
    keys_r = spark.createDataFrame(key_rows_r, "c long, ca long, cb long")
    la = assigned.select(
        F.col(id_col).alias("_lid"),
        F.col(vec_col).alias("_lv"),
        F.col(cell_col).alias("_lc"),
    )
    ra = assigned.select(
        F.col(id_col).alias("_rid"),
        F.col(vec_col).alias("_rv"),
        F.col(cell_col).alias("_rc"),
    )
    lhs = la.join(
        F.broadcast(keys_l), la["_lc"] == F.col("c")
    ).select("ca", "cb", F.col("_lid").alias("vid"), F.col("_lv").alias("v"))
    rhs = ra.join(
        F.broadcast(keys_r), ra["_rc"] == F.col("c")
    ).select("ca", "cb", F.col("_rid").alias("vid"), F.col("_rv").alias("v"))

    t_eff = threshold - _SLACK

    def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {
                    "vec_id_a": pd.Series([], dtype="int64"),
                    "vec_id_b": pd.Series([], dtype="int64"),
                }
            )
        A = np.stack([np.asarray(x, dtype=np.float64) for x in left["v"]])
        B = np.stack([np.asarray(x, dtype=np.float64) for x in right["v"]])
        ia = left["vid"].to_numpy()
        ib = right["vid"].to_numpy()
        # true norms, no clamp: a zero-norm or NaN-component vector
        # scores NaN here, and NaN >= t holds for the caller's exact
        # Spark cosine, so NaN pairs are kept (knn_kernel's mzero rule)
        An = np.linalg.norm(A, axis=1)
        Bn = np.linalg.norm(B, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            cosm = (A @ B.T) / An[:, None] / Bn[None, :]
        keep = (cosm >= t_eff) | np.isnan(cosm)
        mask = keep & (ia[:, None] < ib[None, :])
        r, c = np.nonzero(mask)
        return pd.DataFrame({"vec_id_a": ia[r], "vec_id_b": ib[c]})

    ids = (
        lhs.groupby("ca", "cb")
        .cogroup(rhs.groupby("ca", "cb"))
        .applyInPandas(fn, "vec_id_a long, vec_id_b long")
    )
    va = assigned.select(
        F.col(id_col).alias("vec_id_a"), F.col(vec_col).alias("va")
    )
    vb = assigned.select(
        F.col(id_col).alias("vec_id_b"), F.col(vec_col).alias("vb")
    )
    return (
        ids.join(va, "vec_id_a")
        .join(vb, "vec_id_b")
        .select("vec_id_a", "vec_id_b", "va", "vb")
    )
