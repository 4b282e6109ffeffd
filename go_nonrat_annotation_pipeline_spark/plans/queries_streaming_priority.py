"""Streaming priority sample.

The stream twin of q_priority_sample: the budget-k weighted sample is
maintained across micro-batches by keeping the running top-(k+1) rows
by priority — top-(k+1) of a union equals the union of per-piece
top-(k+1)s folded, so the maintained state is batching- and
order-INSENSITIVE (no mtime pinning needed) and exactly (k+1) rows
regardless of stream length. After the drain, row k+1 IS the global
τ, so the emitted sample and its max(w, τ) estimators hash-equal the
one-pass batch operator over the whole feed — which is exactly what
the oracle computes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import sampling_priority as PR
from ..sources.testdata import load_table
from ..streaming.replay import drain, replay
from .registry import register

_K = 200
_SALT = "prio0"
_KEY = "CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)"
_PRI = PR.sql_priority("l_quantity", _KEY, _SALT)


@register(
    "stream_priority_sample",
    f"""
    WITH pr_all AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS w, {_PRI} AS priority
      FROM lineitem
    ), pr_top1 AS (
      SELECT * FROM pr_all
      ORDER BY priority DESC, l_orderkey, l_linenumber LIMIT {_K + 1}
    ), pr_tau AS (
      SELECT CASE WHEN COUNT(*) > {_K} THEN MIN(priority) ELSE 0 END AS tau
      FROM pr_top1
    )
    SELECT p.l_orderkey, p.l_linenumber, p.w, p.priority,
           GREATEST(p.w, t.tau) AS w_est
    FROM (SELECT * FROM pr_top1
          ORDER BY priority DESC, l_orderkey, l_linenumber
          LIMIT {_K}) p
    CROSS JOIN pr_tau t
    """,
    doc="streaming priority sample: per micro-batch the state folds to "
    "the running top-(k+1) by priority (monotone under union, so the "
    "result is batching/order-insensitive and the state is k+1 rows "
    "forever); the drained sample + max(w, tau) estimators hash-equal "
    "the one-pass batch operator over the whole feed",
)
def stream_priority_sample(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        # parquet stores l_quantity as DOUBLE (integral-valued); stage
        # the feed as BIGINT so the stream schema reads cleanly
        F.col("l_quantity").cast("long").alias("l_quantity"),
    )
    state = {
        "top": spark.createDataFrame(
            [], "l_orderkey long, l_linenumber long, w long, priority long"
        ).localCheckpoint()
    }

    def handle(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        pri = PR.with_priority(
            batch_df,
            F.col("l_quantity"),
            F.concat_ws(
                "_", F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            ),
            _SALT,
        ).select("l_orderkey", "l_linenumber", "w", "priority")
        state["top"] = (
            state["top"]
            .unionByName(pri)
            .orderBy(F.desc("priority"), "l_orderkey", "l_linenumber")
            .limit(_K + 1)
            .localCheckpoint()
        )

    src = li.localCheckpoint()
    batches = [src.where(f"l_orderkey % 3 = {i}") for i in range(3)]
    with replay(spark, batches) as r:
        drain(r.stream, handle)
    top = state["top"]
    rows = top.select("priority").orderBy(F.desc("priority")).collect()
    tau = rows[_K].priority if len(rows) > _K else 0
    return (
        top.orderBy(F.desc("priority"), "l_orderkey", "l_linenumber")
        .limit(min(_K, len(rows)))
        .withColumn(
            "w_est", F.greatest(F.col("w"), F.lit(tau).cast("long"))
        )
    )
