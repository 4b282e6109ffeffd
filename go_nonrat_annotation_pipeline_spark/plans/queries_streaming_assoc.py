"""Streaming association-rule maintenance.

The incremental form of q_assoc_rules: baskets arrive WHOLE in
micro-batches (arrival split by order key, the invariant a real
ingest keyed by transaction id provides), and the sufficient
statistics — basket count, item supports, pair supports — are all
ADDITIVE under basket-complete batches, so the state folds exactly:
  state <- state (+) batch_counts        (union + groupBy-sum)
Rules (relative support threshold, confidence, lift) derive from the
final state alone. The A-priori prune is deliberately NOT applied
inside the fold — an item below threshold mid-stream may become
frequent later, so pruning is only sound at read time; state stays
bounded because items are part CATEGORIES (l_partkey % 100 — a
bounded domain; at raw-item granularity the state cap would be a
count-min sketch, q_join_size_cms's posture). Final state hash-equals
the one-shot batch computation — the oracle is q_assoc_rules' SQL
verbatim.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from ..streaming.replay import drain, replay
from .queries_assoc_rules import _SUP_DEN, _SUP_NUM
from .registry import register


@register(
    "stream_assoc_rules",
    f"""
    WITH itemsb AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey % 100 AS p
      FROM lineitem
    ),
    nb AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM itemsb),
    isup AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS sup FROM itemsb GROUP BY 1
    ),
    freq AS (
      SELECT p, sup FROM isup, nb
      WHERE sup * {_SUP_DEN} >= n * {_SUP_NUM}
    ),
    fitems AS (
      SELECT i.o, i.p, f.sup FROM itemsb i JOIN freq f USING (p)
    ),
    psup AS (
      SELECT a.p AS pa, b.p AS pb,
             CAST(COUNT(*) AS BIGINT) AS sup_ab,
             MAX(a.sup) AS sup_a, MAX(b.sup) AS sup_b
      FROM fitems a JOIN fitems b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2
    ),
    fpairs AS (
      SELECT pa, pb, sup_ab, sup_a, sup_b FROM psup, nb
      WHERE sup_ab * {_SUP_DEN} >= n * {_SUP_NUM}
    ),
    rules AS (
      SELECT pa AS antecedent, pb AS consequent,
             sup_ab, sup_a AS sup_ante, sup_b AS sup_cons FROM fpairs
      UNION ALL
      SELECT pb, pa, sup_ab, sup_b, sup_a FROM fpairs
    )
    SELECT antecedent, consequent, sup_ab,
           CAST(sup_ab * 1000000 // sup_ante AS BIGINT) AS conf_ppm,
           CAST(sup_ab * n * 1000000 // (sup_ante * sup_cons) AS BIGINT)
             AS lift_ppm
    FROM rules, nb
    """,
    doc="streaming market-basket maintenance: basket count, item and "
    "pair supports fold additively over basket-complete micro-batches "
    "(union + groupBy-sum state); rules with relative support, "
    "confidence and lift derive from the final state alone and "
    "hash-equal the one-shot batch computation (the q_assoc_rules "
    "oracle verbatim); prune applied at read time only — mid-stream "
    "pruning would drop late-bloaming items",
)
def stream_assoc_rules(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    # r13 optimization: the three additive statistics (basket count,
    # item supports, pair supports) fold through ONE kind-tagged state
    # frame — the old form ran THREE actions per trigger (a driver
    # count plus two separate union+groupBy+checkpoint folds); this
    # form runs ONE. Still true per-trigger incremental state
    # maintenance (union + groupBy-sum over basket-complete batches),
    # and every statistic is an exact integer sum, so the read-time
    # split reproduces the old frames bit-for-bit. kind: 0 = item
    # support (pa = item), 1 = pair support, 2 = basket count
    # (pa = pb = -1, never a real item key — items are pmod 100).
    empty = spark.createDataFrame(
        [], "k int, pa long, pb long, sup long"
    )
    state = {"s": empty.localCheckpoint()}
    neg1 = F.lit(-1).cast("long")

    def handle(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        items = batch_df.select(
            F.col("l_orderkey").alias("o"),
            (F.col("l_partkey") % 100).alias("p"),
        ).distinct()
        nb = (
            items.select("o")
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("sup"))
            .select(
                F.lit(2).alias("k"),
                neg1.alias("pa"),
                neg1.alias("pb"),
                "sup",
            )
        )
        isup_b = (
            items.groupBy("p")
            .agg(F.count(F.lit(1)).cast("long").alias("sup"))
            .select(
                F.lit(0).alias("k"),
                F.col("p").alias("pa"),
                neg1.alias("pb"),
                "sup",
            )
        )
        a = items.select("o", F.col("p").alias("pa"))
        b = items.select("o", F.col("p").alias("pb"))
        psup_b = (
            a.join(b, "o")
            .where(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).cast("long").alias("sup"))
            .select(F.lit(1).alias("k"), "pa", "pb", "sup")
        )
        state["s"] = (
            state["s"]
            .unionByName(nb)
            .unionByName(isup_b)
            .unionByName(psup_b)
            .groupBy("k", "pa", "pb")
            .agg(F.sum("sup").cast("long").alias("sup"))
            .localCheckpoint()
        )

    src = li.select("l_orderkey", "l_partkey").localCheckpoint()
    batches = [src.where(f"l_orderkey % 3 = {i}") for i in range(3)]
    with replay(spark, batches) as r:
        drain(r.stream, handle)
    st = state["s"]
    nrow = st.where("k = 2").select("sup").collect()
    n = int(nrow[0][0]) if nrow else 0
    isup = st.where("k = 0").select(
        F.col("pa").alias("p"), "sup"
    )
    psup = st.where("k = 1").select(
        "pa", "pb", F.col("sup").alias("sup_ab")
    )
    freq = isup.where(
        F.col("sup") * _SUP_DEN >= F.lit(n) * _SUP_NUM
    )
    fpairs = (
        psup
        .where(
            F.col("sup_ab") * _SUP_DEN >= F.lit(n) * _SUP_NUM
        )
        .join(
            F.broadcast(
                freq.select(
                    F.col("p").alias("pa"),
                    F.col("sup").alias("sup_a"),
                )
            ),
            "pa",
        )
        .join(
            F.broadcast(
                freq.select(
                    F.col("p").alias("pb"),
                    F.col("sup").alias("sup_b"),
                )
            ),
            "pb",
        )
    )
    rules = fpairs.select(
        F.col("pa").alias("antecedent"),
        F.col("pb").alias("consequent"),
        "sup_ab",
        F.col("sup_a").alias("sup_ante"),
        F.col("sup_b").alias("sup_cons"),
    ).unionByName(
        fpairs.select(
            F.col("pb").alias("antecedent"),
            F.col("pa").alias("consequent"),
            "sup_ab",
            F.col("sup_b").alias("sup_ante"),
            F.col("sup_a").alias("sup_cons"),
        )
    )
    return rules.select(
        "antecedent",
        "consequent",
        "sup_ab",
        F.expr(
            "CAST(sup_ab * 1000000 DIV sup_ante AS BIGINT)"
        ).alias("conf_ppm"),
        F.expr(
            f"CAST(sup_ab * {n} * 1000000"
            " DIV (sup_ante * sup_cons) AS BIGINT)"
        ).alias("lift_ppm"),
    ).localCheckpoint()
