"""Join-view maintenance with DELETES (the retraction path; the
insert-only twins live in operators/incrjoin.py and
queries_streaming_incrjoin.py).

Both queries maintain V = L ⋈ R through a CDC feed that mixes inserts
and deletes, then net-fold and aggregate; the oracle recomputes the
join over the post-CDC tables — maintained ≡ recompute, now with
retractions. The delete sets are carved deterministically out of the
BASE rows (so every 'D' retracts a row that exists), but the algebra
itself needs no such discipline — signs are order-insensitive
(operators/incrjoin_retract.py).

CDC recipe over the driver tables:
  L: orders(k=o_orderkey, attr=o_orderpriority)
     base k%3≠0; inserts k%3=0; deletes base rows with k%7=1
  R: lineitem(k=l_orderkey, qty=floor(l_quantity), sub=l_linenumber)
     base (k+sub)%4≠0; inserts (k+sub)%4=0;
     deletes base rows with (k·31+sub)%11=2
Post-CDC membership is therefore a pure predicate on each source
table, which is exactly what the oracle joins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.incrjoin_retract import (
    delta_join_retract,
    net_rows,
    signed_join,
    with_sign,
)
from ..sources.testdata import load_table
from ..streaming.replay import drain, replay
from .registry import register

_N_BATCHES = 3

_ORACLE = """
    WITH ivr_l1 AS (
      SELECT o_orderkey AS k, o_orderpriority AS attr FROM orders
      WHERE (o_orderkey % 3 = 0) OR (o_orderkey % 7 <> 1)
    ), ivr_r1 AS (
      SELECT l_orderkey AS k,
             CAST(FLOOR(l_quantity) AS BIGINT) AS qty
      FROM lineitem
      WHERE ((l_orderkey + l_linenumber) % 4 = 0)
         OR ((l_orderkey * 31 + l_linenumber) % 11 <> 2)
    )
    SELECT attr AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(qty) AS BIGINT) AS sum_qty
    FROM ivr_l1 JOIN ivr_r1 USING (k)
    GROUP BY attr
"""


def _sides(spark, sf_dir):
    lo = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("attr"),
    )
    rl = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.floor("l_quantity").cast("long").alias("qty"),
        F.col("l_linenumber").alias("sub"),
    )
    l_base = lo.where("k % 3 != 0")
    l_ins = lo.where("k % 3 = 0")
    l_del = l_base.where("k % 7 = 1")
    r_base = rl.where("(k + sub) % 4 != 0")
    r_ins = rl.where("(k + sub) % 4 = 0")
    r_del = r_base.where("(k * 31 + sub) % 11 = 2")
    return (
        l_base,
        l_ins,
        l_del,
        r_base.drop("sub"),
        r_ins.drop("sub"),
        r_del.drop("sub"),
    )


def _netted_aggregate(view_signed):
    return (
        net_rows(view_signed)
        .groupBy(F.col("attr").alias("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("qty").alias("sum_qty"),
        )
    )


@register(
    "q_join_view_retract",
    _ORACLE,
    doc="join-view maintenance under a mixed insert/delete CDC batch: "
    "signed three-term delta expansion (Z-relation algebra, Gupta & "
    "Mumick 1995 / Koch et al.), net-folded at read time — maintained "
    "≡ full post-CDC recompute "
    "(operators/incrjoin_retract.delta_join_retract)",
)
def q_join_view_retract(spark, sf_dir):
    l_base, l_ins, l_del, r_base, r_ins, r_del = _sides(spark, sf_dir)
    one = F.lit(1).cast("long")
    l0 = l_base.withColumn("sign", one)
    r0 = r_base.withColumn("sign", one)
    dl = l_ins.withColumn("sign", one).unionByName(
        l_del.withColumn("sign", -one)
    )
    dr = r_ins.withColumn("sign", one).unionByName(
        r_del.withColumn("sign", -one)
    )
    v0 = signed_join(l0, r0, "k")
    dv = delta_join_retract(l0, dl, r0, dr, "k")
    return _netted_aggregate(v0.unionByName(dv))


@register(
    "stream_join_view_retract",
    _ORACLE,
    doc="streaming twin: one tagged CDC stream carries inserts AND "
    "deletes for both sides; each micro-batch folds the signed delta "
    "expansion against the signed bases accumulated so far — final "
    "net view hash-equals the full post-CDC join regardless of how "
    "deletes interleave across batches (streaming/ivm_retract.py holds "
    "the durable restart-safe form, kill/restart-tested)",
)
def stream_join_view_retract(spark, sf_dir):
    l_base, l_ins, l_del, r_base, r_ins, r_del = _sides(spark, sf_dir)

    def tag(df, side, op):
        out = df.select(
            F.lit(side).alias("side"),
            F.lit(op).alias("op"),
            "k",
            (F.col("attr") if side == "L" else F.lit(None).cast("string")).alias(
                "attr"
            ),
            (F.col("qty") if side == "R" else F.lit(None).cast("long")).alias(
                "qty"
            ),
        )
        return out

    feed = (
        tag(l_ins, "L", "I")
        .unionByName(tag(l_del, "L", "D"))
        .unionByName(tag(r_ins, "R", "I"))
        .unionByName(tag(r_del, "R", "D"))
    )

    n_part = spark.sparkContext.defaultParallelism
    one = F.lit(1).cast("long")
    state = {
        "L": l_base.withColumn("sign", one).localCheckpoint(),
        "R": r_base.withColumn("sign", one).localCheckpoint(),
        "V": signed_join(
            l_base.withColumn("sign", one),
            r_base.withColumn("sign", one),
            "k",
        ).localCheckpoint(),
    }

    def handle(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        signed = with_sign(batch_df, "op")
        dl = signed.where("side = 'L'").select("k", "attr", "sign")
        dr = signed.where("side = 'R'").select("k", "qty", "sign")
        dv = delta_join_retract(state["L"], dl, state["R"], dr, "k")
        state["V"] = (
            state["V"].unionByName(dv).repartition(n_part, "k").localCheckpoint()
        )
        state["L"] = (
            state["L"].unionByName(dl).repartition(n_part, "k").localCheckpoint()
        )
        state["R"] = (
            state["R"].unionByName(dr).repartition(n_part, "k").localCheckpoint()
        )

    src = feed.localCheckpoint()
    batches = [
        src.where(
            f"pmod(hash(side, op, k, coalesce(qty, -1)), {_N_BATCHES}) = {i}"
        )
        for i in range(_N_BATCHES)
    ]
    with replay(spark, batches) as r:
        drain(r.stream, handle)
    return _netted_aggregate(state["V"])
