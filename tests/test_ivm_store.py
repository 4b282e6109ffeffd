"""Kill/restart recovery for the durable streaming join-IVM store
(mirrors the dedup-store recovery tests): the maintained view must
equal the full join of all fed rows across stop/restart and a
simulated mid-batch crash, never double-counting a replayed delta."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from go_nonrat_annotation_pipeline_spark.streaming.ivm_store import (
    join_view_stream_durable,
    make_ivm_handler,
    read_view,
)
from go_nonrat_annotation_pipeline_spark.streaming.replay import replay, stage

SCHEMA = "side string, k long, attr string, qty long"

B0 = [("L", 1, "p1", None), ("R", 1, None, 10), ("R", 2, None, 20)]
B1 = [("L", 2, "p2", None), ("R", 1, None, 11)]
B2 = [("L", 1, "p1b", None), ("R", 2, None, 21)]


def _full_join(spark, batches):
    rows = [r for b in batches for r in b]
    df = spark.createDataFrame(rows, SCHEMA)
    lo = df.where("side = 'L'").select("k", "attr")
    ro = df.where("side = 'R'").select("k", "qty")
    return sorted(tuple(r) for r in lo.join(ro, "k").collect())


def _dirs(tmp_path):
    return (
        str(tmp_path / "l"),
        str(tmp_path / "r"),
        str(tmp_path / "v"),
        str(tmp_path / "ckpt"),
    )


def _frames(spark, batches):
    return [spark.createDataFrame(rows, SCHEMA) for rows in batches]


def test_stop_restart_resumes_without_double_count(spark, tmp_path):
    l_dir, r_dir, v_dir, ckpt = _dirs(tmp_path)
    empty_l = spark.createDataFrame([], "k long, attr string")
    empty_r = spark.createDataFrame([], "k long, qty long")
    with replay(spark, _frames(spark, [B0, B1])) as r:
        join_view_stream_durable(
            r.stream, empty_l, empty_r, l_dir, r_dir, v_dir, ckpt
        )
        # "kill" = the first drain ended; a third batch arrives, restart
        # against the SAME checkpoint — b0/b1 must not reprocess
        stage(spark.createDataFrame(B2, SCHEMA), r.staged, 2)
        join_view_stream_durable(
            r.stream, empty_l, empty_r, l_dir, r_dir, v_dir, ckpt
        )
    got = sorted(tuple(r) for r in read_view(spark, v_dir).collect())
    assert got == _full_join(spark, [B0, B1, B2])


def test_midbatch_crash_replay_is_idempotent(spark, tmp_path):
    l_dir, r_dir, v_dir, _ = _dirs(tmp_path)
    empty_l = spark.createDataFrame([], "k long, attr string")
    empty_r = spark.createDataFrame([], "k long, qty long")
    for path, df in ((l_dir, empty_l), (r_dir, empty_r)):
        df.write.mode("overwrite").parquet(
            os.path.join(path, "admit_batch=-1")
        )
    handler = make_ivm_handler(spark, l_dir, r_dir, v_dir)
    handler(spark.createDataFrame(B0, SCHEMA), 0)

    # crash simulation: batch 1 writes its VIEW partition, dies before
    # admitting its base rows (the window where state is inconsistent)
    class Boom(Exception):
        pass

    def crashing(batch_df, batch_id):
        dl = batch_df.where("side = 'L'").select("k", "attr")
        dr = batch_df.where("side = 'R'").select("k", "qty")
        from go_nonrat_annotation_pipeline_spark.streaming.ivm_store import (
            _read_store,
        )
        from go_nonrat_annotation_pipeline_spark.operators.incrjoin import (
            delta_join,
        )

        dv = delta_join(
            _read_store(spark, l_dir, "k long, attr string", batch_id),
            dl,
            _read_store(spark, r_dir, "k long, qty long", batch_id),
            dr,
            "k",
        )
        dv.write.mode("overwrite").parquet(
            os.path.join(v_dir, f"batch={batch_id}")
        )
        raise Boom()

    try:
        crashing(spark.createDataFrame(B1, SCHEMA), 1)
    except Boom:
        pass
    # replay of batch 1 through the REAL handler must land on the same
    # state as if the crash never happened
    handler(spark.createDataFrame(B1, SCHEMA), 1)
    handler(spark.createDataFrame(B2, SCHEMA), 2)
    got = sorted(tuple(r) for r in read_view(spark, v_dir).collect())
    assert got == _full_join(spark, [B0, B1, B2])


def test_seeded_bases_probe_into_deltas(spark, tmp_path):
    l_dir, r_dir, v_dir, ckpt = _dirs(tmp_path)
    seed_l = spark.createDataFrame([(9, "seed")], "k long, attr string")
    seed_r = spark.createDataFrame([(9, 90)], "k long, qty long")
    batches = [[("R", 9, None, 91)], [("L", 9, "p9", None)]]
    with replay(spark, _frames(spark, batches)) as r:
        join_view_stream_durable(
            r.stream, seed_l, seed_r, l_dir, r_dir, v_dir, ckpt
        )
    got = sorted(tuple(r) for r in read_view(spark, v_dir).collect())
    # deltas vs seeds: (seed,91), (p9,90), (p9,91) — V0=(seed,90) is
    # the caller's to materialize, per the docstring
    assert got == [(9, "p9", 90), (9, "p9", 91), (9, "seed", 91)]
