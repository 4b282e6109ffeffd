"""operators/pair_blocks — blocked exact pair-candidate generation
(r13 optimization round): both regime branches must yield, after the
caller's exact re-rank, exactly the brute-force pair set, and the
branch selection must follow the compat density.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from go_nonrat_annotation_pipeline_spark.operators.decontam_ann import (
    build_bench_cells,
    compatible_cell_pairs,
    residual_to_cell,
)
from go_nonrat_annotation_pipeline_spark.operators.dedup import cosine
from go_nonrat_annotation_pipeline_spark.operators.pair_blocks import (
    _MAX_BLOCKS,
    block_candidate_pairs,
)
from go_nonrat_annotation_pipeline_spark.operators.similarity import (
    argmax_cell,
)

_TH = 0.4
# a NaN component makes every cosine with this vector NaN, and Spark
# ranks NaN >= any threshold, so its pairs belong in the exact answer
_NAN_ROW = (10_000, [float("nan")] + [0.25] * 15)


def _vecs(seed, n, dim=16):
    rng = np.random.default_rng(seed)
    a = rng.normal(size=(n, dim))
    a /= np.linalg.norm(a, axis=1, keepdims=True)
    return [(i, [float(x) for x in a[i]]) for i in range(n)]


def _assigned(spark, rows, cent_rows):
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    return (
        df.select(
            "vec_id", "v", argmax_cell(F.col("v"), cent_rows).alias("cell")
        )
        .withColumn(
            "res", residual_to_cell(F.col("v"), F.col("cell"), cent_rows)
        )
        .localCheckpoint(eager=False)
    )


def _full_cells(assigned, cent_rows):
    maxres = {
        r[0]: r[1]
        for r in assigned.groupBy("cell")
        .agg(F.max("res").alias("res"))
        .collect()
    }
    return [
        (cid, cv, float(maxres.get(cid, 0.0))) for cid, cv in cent_rows
    ]


def _exact_pairs(rows, th):
    """Brute-force reference on the driver (numpy, 6dp round; a NaN
    cosine qualifies, as in Spark)."""
    V = np.array([v for _, v in rows])
    ids = [i for i, _ in rows]
    nrm = np.linalg.norm(V, axis=1)
    cos = (V @ V.T) / nrm[:, None] / nrm[None, :]
    out = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if np.isnan(cos[i, j]) or round(cos[i, j], 6) >= th:
                out.add((ids[i], ids[j]))
    return out


def _final(cand, th):
    return {
        (r[0], r[1])
        for r in cand.withColumn(
            "c", F.round(cosine(F.col("va"), F.col("vb")), 6)
        )
        .where(F.col("c") >= F.lit(th))
        .select("vec_id_a", "vec_id_b")
        .collect()
    }


def test_cogroup_branch_matches_brute_force(spark):
    rows = _vecs(7, 120) + [_NAN_ROW]
    _, cells = build_bench_cells(rows[:40], k=8)
    cent_rows = [(cid, cv) for cid, cv, _ in cells]
    assigned = _assigned(spark, rows, cent_rows)
    fc = _full_cells(assigned, cent_rows)
    assert len(compatible_cell_pairs(fc, _TH)) <= _MAX_BLOCKS
    cand = block_candidate_pairs(assigned, fc, _TH)
    assert "FlatMapCoGroupsInPandas" in cand._jdf.queryExecution().toString()
    assert _final(cand, _TH) == _exact_pairs(rows, _TH)


def test_dense_superblock_branch_matches_brute_force(spark):
    # enough mutually-compatible cells to exceed _MAX_BLOCKS: unclustered
    # unit vectors keep every cell pair compatible, so k cells emit
    # ~k^2 compat rows — the fired-drain regime, which since r14 runs
    # the SAME cogroup kernel over ceil(sqrt(C)) super-group blocks
    # (VERDICT r13 Next #1) instead of the row-per-pair join
    k = 70
    rows = _vecs(11, 300) + [_NAN_ROW]
    _, cells = build_bench_cells(rows[:260], k=k)
    cent_rows = [(cid, cv) for cid, cv, _ in cells]
    assigned = _assigned(spark, rows, cent_rows)
    fc = _full_cells(assigned, cent_rows)
    n_compat = len(compatible_cell_pairs(fc, _TH))
    assert n_compat > _MAX_BLOCKS
    cand = block_candidate_pairs(assigned, fc, _TH)
    plan = cand._jdf.queryExecution().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    # each unordered pair must be emitted exactly once (duplicate
    # candidate rows would become duplicate RESULT rows downstream)
    pairs = [
        (r[0], r[1])
        for r in cand.select("vec_id_a", "vec_id_b").collect()
    ]
    assert len(pairs) == len(set(pairs))
    assert _final(cand, _TH) == _exact_pairs(rows, _TH)


def test_superblock_grouping_bounds_block_count(spark):
    # the whole point of the coarse branch: <= G^2 ~ C blocks, never C^2
    import math

    from go_nonrat_annotation_pipeline_spark.operators.pair_blocks import (
        _cell_groups,
    )

    ids = list(range(1, 701))
    g = _cell_groups(ids, math.ceil(math.sqrt(len(ids))))
    assert set(g) == set(ids)
    n_groups = len(set(g.values()))
    assert n_groups <= math.ceil(math.sqrt(700))
    # dense compat (every pair both directions) collapses to <= G^2
    super_pairs = {(g[a], g[b]) for a in ids[:80] for b in ids[:80]}
    assert len(super_pairs) <= n_groups * n_groups


def test_empty_cells_yield_empty_frame(spark):
    assigned = _assigned(spark, _vecs(3, 5), [(1, [1.0] + [0.0] * 15)])
    assert block_candidate_pairs(assigned, [], _TH).count() == 0
