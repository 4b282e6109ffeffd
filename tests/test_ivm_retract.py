"""Kill/restart recovery for the durable streaming join-IVM store WITH
deletes (streaming/ivm_retract.py): the net view must equal the join of
the net post-CDC bases across stop/restart and a simulated mid-batch
crash, and must be insensitive to insert/delete interleaving — a delete
arriving before its insert nets to zero (Z-relation algebra)."""

from __future__ import annotations

import os

from go_nonrat_annotation_pipeline_spark.streaming.ivm_retract import (
    join_view_stream_retract,
    make_ivm_retract_handler,
    read_view_net,
)
from go_nonrat_annotation_pipeline_spark.streaming.replay import replay, stage

SCHEMA = "side string, op string, k long, attr string, qty long"

B0 = [
    ("L", "I", 1, "p1", None),
    ("R", "I", 1, None, 10),
    ("R", "I", 2, None, 20),
]
B1 = [
    ("L", "I", 2, "p2", None),
    ("R", "D", 1, None, 10),  # retracts B0's R(1,10)
    ("R", "I", 1, None, 11),
]
B2 = [
    ("L", "D", 1, "p1", None),  # retracts B0's L(1,p1)
    ("L", "I", 1, "p1b", None),
    ("R", "I", 2, None, 21),
]


def _net_join(spark, batches):
    """Reference: net each side over the whole feed, join."""
    rows = [r for b in batches for r in b]
    df = spark.createDataFrame(rows, SCHEMA)
    sides = {}
    for side, cols in (("L", ["k", "attr"]), ("R", ["k", "qty"])):
        from pyspark.sql import functions as F

        s = (
            df.where(f"side = '{side}'")
            .withColumn(
                "sign",
                F.when(F.col("op") == "D", F.lit(-1)).otherwise(F.lit(1)),
            )
            .groupBy(*cols)
            .agg(F.sum("sign").alias("net"))
            .where("net > 0")
            .select(*cols)
        )
        sides[side] = s
    return sorted(
        tuple(r) for r in sides["L"].join(sides["R"], "k").collect()
    )


def _dirs(tmp_path):
    return (
        str(tmp_path / "l"),
        str(tmp_path / "r"),
        str(tmp_path / "v"),
        str(tmp_path / "ckpt"),
    )


def _frames(spark, batches):
    return [spark.createDataFrame(rows, SCHEMA) for rows in batches]


def _empties(spark):
    return (
        spark.createDataFrame([], "k long, attr string"),
        spark.createDataFrame([], "k long, qty long"),
    )


def test_retract_stop_restart_resumes_without_double_count(spark, tmp_path):
    l_dir, r_dir, v_dir, ckpt = _dirs(tmp_path)
    empty_l, empty_r = _empties(spark)
    with replay(spark, _frames(spark, [B0, B1])) as r:
        join_view_stream_retract(
            r.stream, empty_l, empty_r, l_dir, r_dir, v_dir, ckpt
        )
        stage(spark.createDataFrame(B2, SCHEMA), r.staged, 2)
        join_view_stream_retract(
            r.stream, empty_l, empty_r, l_dir, r_dir, v_dir, ckpt
        )
    got = sorted(tuple(r) for r in read_view_net(spark, v_dir).collect())
    assert got == _net_join(spark, [B0, B1, B2])


def test_retract_midbatch_crash_replay_is_idempotent(spark, tmp_path):
    from pyspark.sql import functions as F

    l_dir, r_dir, v_dir, _ = _dirs(tmp_path)
    empty_l, empty_r = _empties(spark)
    for path, df in ((l_dir, empty_l), (r_dir, empty_r)):
        df.withColumn("sign", F.lit(1).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "admit_batch=-1"))
    handler = make_ivm_retract_handler(spark, l_dir, r_dir, v_dir)
    handler(spark.createDataFrame(B0, SCHEMA), 0)

    class Boom(Exception):
        pass

    def crashing(batch_df, batch_id):
        # writes the view partition then dies before admitting bases —
        # the inconsistent window; replay must converge
        from go_nonrat_annotation_pipeline_spark.operators.incrjoin_retract import (
            delta_join_retract,
            with_sign,
        )
        from go_nonrat_annotation_pipeline_spark.streaming.ivm_store import (
            _read_store,
        )

        signed = with_sign(batch_df, "op")
        dl = signed.where("side = 'L'").select("k", "attr", "sign")
        dr = signed.where("side = 'R'").select("k", "qty", "sign")
        dv = delta_join_retract(
            _read_store(spark, l_dir, "k long, attr string, sign long", batch_id),
            dl,
            _read_store(spark, r_dir, "k long, qty long, sign long", batch_id),
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
    handler(spark.createDataFrame(B1, SCHEMA), 1)
    handler(spark.createDataFrame(B2, SCHEMA), 2)
    got = sorted(tuple(r) for r in read_view_net(spark, v_dir).collect())
    assert got == _net_join(spark, [B0, B1, B2])


def test_crash_window_read_excludes_uncommitted_view_partition(
    spark, tmp_path
):
    """ADVICE r8: a batch killed between its view write and its base
    admits leaves a view partition whose base state never published.
    The committed-admit-filtered read must exclude it (and include it
    again once the replay commits)."""
    from pyspark.sql import functions as F

    l_dir, r_dir, v_dir, _ = _dirs(tmp_path)
    empty_l, empty_r = _empties(spark)
    for path, df in ((l_dir, empty_l), (r_dir, empty_r)):
        df.withColumn("sign", F.lit(1).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "admit_batch=-1"))
    handler = make_ivm_retract_handler(spark, l_dir, r_dir, v_dir)
    handler(spark.createDataFrame(B0, SCHEMA), 0)
    committed = sorted(
        tuple(r) for r in read_view_net(spark, v_dir, l_dir, r_dir).collect()
    )
    assert committed == _net_join(spark, [B0])

    # crash window: write ONLY the view partition for batch 1
    from go_nonrat_annotation_pipeline_spark.operators.incrjoin_retract import (
        delta_join_retract,
        with_sign,
    )
    from go_nonrat_annotation_pipeline_spark.streaming.ivm_store import (
        _read_store,
    )

    signed = with_sign(spark.createDataFrame(B1, SCHEMA), "op")
    dv = delta_join_retract(
        _read_store(spark, l_dir, "k long, attr string, sign long", 1),
        signed.where("side = 'L'").select("k", "attr", "sign"),
        _read_store(spark, r_dir, "k long, qty long, sign long", 1),
        signed.where("side = 'R'").select("k", "qty", "sign"),
        "k",
    )
    dv.write.mode("overwrite").parquet(os.path.join(v_dir, "batch=1"))

    filtered = sorted(
        tuple(r) for r in read_view_net(spark, v_dir, l_dir, r_dir).collect()
    )
    unfiltered = sorted(
        tuple(r) for r in read_view_net(spark, v_dir).collect()
    )
    assert filtered == committed  # the in-flight delta is invisible
    assert unfiltered != committed  # …and the naive read would see it

    handler(spark.createDataFrame(B1, SCHEMA), 1)  # replay commits it
    got = sorted(
        tuple(r) for r in read_view_net(spark, v_dir, l_dir, r_dir).collect()
    )
    assert got == _net_join(spark, [B0, B1])


def test_delete_before_insert_nets_to_zero(spark, tmp_path):
    l_dir, r_dir, v_dir, ckpt = _dirs(tmp_path)
    empty_l, empty_r = _empties(spark)
    early_delete = [("L", "D", 5, "px", None), ("R", "I", 5, None, 50)]
    late_insert = [("L", "I", 5, "px", None), ("L", "I", 6, "p6", None),
                   ("R", "I", 6, None, 60)]
    with replay(spark, _frames(spark, [early_delete, late_insert])) as r:
        join_view_stream_retract(
            r.stream, empty_l, empty_r, l_dir, r_dir, v_dir, ckpt
        )
    got = sorted(tuple(r) for r in read_view_net(spark, v_dir).collect())
    # k=5's insert and early delete cancel; only k=6 survives
    assert got == [(6, "p6", 60)]
