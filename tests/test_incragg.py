"""Incremental aggregate maintenance (operators/incragg.py): the
maintained state must equal a direct recompute over the new snapshot —
the self-maintenance identity, checked on crafted data that hits every
delta path."""

from __future__ import annotations

from go_nonrat_annotation_pipeline_spark.operators import diff as DF_
from go_nonrat_annotation_pipeline_spark.operators import incragg as IA
from go_nonrat_annotation_pipeline_spark.streaming.replay import replay


def _maintained_vs_recomputed(spark, old_rows, new_rows):
    schema = "k long, grp string, m long"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    state = IA.group_agg_state(old, "grp", "m")
    cdc = DF_.snapshot_diff(old, new, keys=["k"], compare_cols=["grp", "m"])
    maintained = IA.incremental_agg_maintain(state, cdc, "grp", "m")
    recomputed = IA.group_agg_state(new, "grp", "m")
    return maintained, recomputed


def test_every_delta_path(spark):
    old = [
        (1, "a", 10),  # unchanged
        (2, "a", 20),  # measure edit
        (3, "a", 30),  # group move a -> b
        (4, "b", 40),  # deleted
        (5, "c", 50),  # deleted (c reaches zero and must vanish)
    ]
    new = [
        (1, "a", 10),
        (2, "a", 25),
        (3, "b", 30),
        (6, "b", 60),  # added
        (7, "d", 70),  # added (new group)
    ]
    maintained, recomputed = _maintained_vs_recomputed(spark, old, new)
    got = {(r.grp, r.n, r.total) for r in maintained.collect()}
    want = {(r.grp, r.n, r.total) for r in recomputed.collect()}
    assert got == want == {("a", 2, 35), ("b", 2, 90), ("d", 1, 70)}


def test_group_emptied_then_refilled(spark):
    old = [(1, "a", 1), (2, "a", 2)]
    new = [(3, "a", 30)]  # both old rows deleted, a new one added
    maintained, recomputed = _maintained_vs_recomputed(spark, old, new)
    assert maintained.exceptAll(recomputed).isEmpty()
    assert recomputed.exceptAll(maintained).isEmpty()


def test_null_group_and_measure_are_maintained(spark):
    """Null-safe path: NULL group keys aggregate as their own group and
    NULL→value measure edits classify as changed (eqNullSafe)."""
    old = [(1, None, 5), (2, "a", None), (3, "a", 3)]
    new = [(1, None, 5), (2, "a", 7), (3, None, 3)]
    maintained, recomputed = _maintained_vs_recomputed(spark, old, new)
    assert maintained.exceptAll(recomputed).isEmpty()
    assert recomputed.exceptAll(maintained).isEmpty()


def test_stream_batching_invariance(spark):
    """The streaming fold must reach the same state for ANY batching of
    the same CDC rows (deltas commute) — checked against the batch
    operator AND a direct recompute."""
    import pyspark.sql.functions as F

    old = [(k, "g" + str(k % 3), k * 10) for k in range(30)]
    new = [
        (k, "g" + str((k + (1 if k % 7 == 0 else 0)) % 3),
         k * 10 + (5 if k % 5 == 0 else 0))
        for k in range(2, 34)
    ]
    schema = "k long, grp string, m long"
    old_df = spark.createDataFrame(old, schema)
    new_df = spark.createDataFrame(new, schema)
    state0 = IA.group_agg_state(old_df, "grp", "m")
    cdc = DF_.snapshot_diff(old_df, new_df, keys=["k"], compare_cols=["grp", "m"])
    want = {(r.grp, r.n, r.total) for r in IA.group_agg_state(new_df, "grp", "m").collect()}
    for n_batches in (1, 4):
        batches = [
            cdc.where(F.pmod(F.col("k"), F.lit(n_batches)) == i)
            for i in range(n_batches)
        ]
        with replay(spark, batches) as r:
            out = IA.incremental_agg_stream(r.stream, state0, "grp", "m")
        got = {(r.grp, r.n, r.total) for r in out.collect()}
        assert got == want, f"batching={n_batches}"
