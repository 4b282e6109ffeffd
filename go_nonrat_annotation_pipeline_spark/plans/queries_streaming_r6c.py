"""Streaming twins of the Hamming-dedup and incremental-aggregate
operators.

- ``stream_hamming_dedup``: the Hamming-admission mirror of
  stream_incremental_dedup — order-DEPENDENT (later batches dedup
  against earlier admissions), so micro-batches replay in a fixed
  order and the oracle unrolls the three stages as chained CTEs.
- ``stream_incremental_agg``: maintained aggregate state fed CDC rows
  in micro-batches. Count/sum deltas commute, so NO batch pinning is
  needed — any batching reaches the same state, and the oracle is the
  same direct recompute over the new snapshot that proves the
  maintained ≡ recompute identity for the batch form.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import hamming as HM
from ..operators import incragg as IA
from ..operators.diff import snapshot_diff
from ..sources.testdata import load_table
from ..streaming.replay import replay
from .queries_incragg import _snapshots
from .registry import register

_MAXD = 4
_N_BATCHES = 3

# incoming = doc_id % 5 == 0; batch index = (doc_id // 5) % 3 — the
# stream_incremental_dedup split, reused so results are comparable
_STORE0 = "doc_id % 5 <> 0"


def _batch_pred(i: int, col: str = "doc_id") -> str:
    return f"{col} % 5 = 0 AND ({col} // 5) % {_N_BATCHES} = {i}"


def _batch_pred_spark(i: int) -> str:
    return f"doc_id % 5 = 0 AND (doc_id div 5) % {_N_BATCHES} = {i}"


def _stage(i: int) -> str:
    """Stage i: flag batch i against store0 + admitted<i, then compute
    its admitted set. Flagging = compound-key collision + popcount."""
    store_terms = ["s.doc_id % 5 <> 0"] + [
        f"s.doc_id IN (SELECT doc_id FROM a{j})" for j in range(i)
    ]
    store_pred = " OR ".join(store_terms)
    return f"""
    , f{i} AS (
      SELECT DISTINCT n.doc_id AS incoming_id, s.doc_id AS store_id
      FROM keys n JOIN keys s ON n.cmb = s.cmb AND n.kv = s.kv
      WHERE {_batch_pred(i, 'n.doc_id')} AND ({store_pred})
    ), v{i} AS (
      SELECT incoming_id, store_id,
             CAST(BIT_COUNT(XOR(x.sig, y.sig)) AS INT) AS hamming
      FROM f{i}
      JOIN sh x ON x.doc_id = f{i}.incoming_id
      JOIN sh y ON y.doc_id = f{i}.store_id
      WHERE BIT_COUNT(XOR(x.sig, y.sig)) <= {_MAXD}
    ), a{i} AS (
      SELECT doc_id FROM documents
      WHERE {_batch_pred(i)}
        AND doc_id NOT IN (SELECT incoming_id FROM v{i})
    )"""


_HAMMING_ORACLE = (
    f"""
    WITH {HM.sql_simhash60_ctes("documents", "doc_id", "text")},
    keys AS ({HM.sql_hamming_keys("doc_id")})"""
    + "".join(_stage(i) for i in range(_N_BATCHES))
    + f"""
    SELECT incoming_id, store_id, hamming FROM (
      {' UNION ALL '.join(f'SELECT * FROM v{i}' for i in range(_N_BATCHES))}
    )
    """
)


@register(
    "stream_hamming_dedup",
    _HAMMING_ORACLE,
    doc="streaming E2E: document stream Hamming-gated per micro-batch "
    "against an accumulating 60-bit SimHash store (clean docs admitted; "
    "later batches dedup against them) — batches pinned by file mtime; "
    "oracle unrolls the three stages as chained CTEs "
    "(operators/hamming.hamming_dedup_stream)",
)
def stream_hamming_dedup(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    store0 = docs.where(F.expr(_STORE0))
    incoming = docs.where(~F.expr(_STORE0)).select("doc_id", "text")
    src = incoming.localCheckpoint()
    batches = [
        src.where(F.expr(_batch_pred_spark(i))) for i in range(_N_BATCHES)
    ]
    with replay(spark, batches) as r:
        return HM.hamming_dedup_stream(r.stream, store0, max_distance=_MAXD)


@register(
    "stream_incremental_agg",
    """
    WITH n AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             (o_orderkey % 1000)
               + CASE WHEN o_orderkey % 13 = 0 THEN 5 ELSE 0 END AS m
      FROM orders WHERE o_orderkey % 5 <> 4
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(m) AS BIGINT) AS total
    FROM n GROUP BY o_orderstatus
    """,
    doc="streaming: maintained per-group aggregate fed CDC rows in "
    "micro-batches (foreachBatch → incremental_agg_maintain); deltas "
    "commute so the final state is batching-independent, and the "
    "direct-recompute oracle proves maintained ≡ recompute "
    "(operators/incragg.incremental_agg_stream)",
)
def stream_incremental_agg(spark, sf_dir):
    old, new = _snapshots(spark, sf_dir)
    state0 = IA.group_agg_state(old, "o_orderstatus", "m")
    cdc = snapshot_diff(
        old, new, keys=["o_orderkey"], compare_cols=["o_orderstatus", "m"]
    )
    # three arbitrary key-hash batches — order is irrelevant, deltas commute
    src = cdc.localCheckpoint()
    batches = [
        src.where(F.pmod(F.col("o_orderkey"), F.lit(3)) == i) for i in range(3)
    ]
    with replay(spark, batches) as r:
        return IA.incremental_agg_stream(
            r.stream, state0, "o_orderstatus", "m"
        )
