"""Streaming incremental-dedup E2E query.

The continuous-ingestion flagship: a document stream is near-dup-gated
batch-by-batch against an ACCUMULATING store
(streaming/stream.incremental_dedup_stream over
operators/dedup.incremental_minhash_dups). Clean docs are admitted, so
batch N dedups against the initial store PLUS everything admitted in
batches 1..N-1 — the order-dependent semantics a real ingest pipeline
has. Determinism: the three micro-batches replay in a fixed order
(streaming/replay.py pins it) and are partitioned by a doc_id
formula, so the DuckDB oracle can unroll the three stages as chained
CTEs, threading each stage's admitted set into the next stage's store
side.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import hashing as H
from ..operators import dedup as D
from ..sources.testdata import load_table
from ..streaming.replay import replay
from ..streaming.stream import incremental_dedup_stream
from .registry import register
from .shared_sql import SH as _SH

_THRESH = 0.7
_N_BATCHES = 3

# incoming = doc_id % 5 == 0; batch index = (doc_id // 5) % 3
_STORE0 = "doc_id % 5 <> 0"
_INCOMING = "doc_id % 5 = 0"


def _batch_pred(i: int, col: str = "doc_id") -> str:
    return f"{col} % 5 = 0 AND ({col} // 5) % {_N_BATCHES} = {i}"


def _stage(i: int) -> str:
    """Stage i (0-based): flag tercile i against store0 + admitted<i,
    then compute its admitted set."""
    store_terms = [f"s.doc_id % 5 <> 0"] + [
        f"s.doc_id IN (SELECT doc_id FROM a{j})" for j in range(i)
    ]
    store_pred = " OR ".join(store_terms)
    return f"""
    , f{i} AS (
      SELECT DISTINCT n.doc_id AS incoming_id, s.doc_id AS store_id
      FROM bands n JOIN bands s
        ON n.b = s.b AND n.h0 = s.h0 AND n.h1 = s.h1
      WHERE {_batch_pred(i, 'n.doc_id')} AND ({store_pred})
    ), v{i} AS (
      SELECT incoming_id, store_id,
             CAST(LEN(LIST_FILTER(x.sh, t -> LIST_CONTAINS(y.sh, t))) AS DOUBLE)
               / (LEN(x.sh) + LEN(y.sh)
                  - LEN(LIST_FILTER(x.sh, t -> LIST_CONTAINS(y.sh, t)))) AS j
      FROM f{i}
      JOIN docs x ON x.doc_id = f{i}.incoming_id
      JOIN docs y ON y.doc_id = f{i}.store_id
    ), a{i} AS (
      SELECT doc_id FROM docs
      WHERE {_batch_pred(i)}
        AND doc_id NOT IN (SELECT incoming_id FROM v{i} WHERE j >= {_THRESH})
    )"""


_ORACLE = (
    f"""
    WITH shd AS (
      SELECT doc_id, LIST_DISTINCT({_SH}) AS sh FROM documents
    ), docs AS (
      SELECT doc_id, sh, {H.sql_minhash_signature('sh')} AS sig
      FROM shd WHERE LEN(sh) > 0
    ), bands AS (
      SELECT doc_id, b,
             LIST_EXTRACT(sig, 2 * b + 1) AS h0,
             LIST_EXTRACT(sig, 2 * b + 2) AS h1
      FROM docs, UNNEST(GENERATE_SERIES(0, {D.N_BANDS - 1})) AS t(b)
    )"""
    + "".join(_stage(i) for i in range(_N_BATCHES))
    + f"""
    SELECT incoming_id, store_id, ROUND(j, 6) AS jaccard FROM (
      {' UNION ALL '.join(f'SELECT * FROM v{i}' for i in range(_N_BATCHES))}
    ) WHERE j >= {_THRESH}
    """
)


def _batch_pred_spark(i: int) -> str:
    return f"doc_id % 5 = 0 AND (doc_id div 5) % {_N_BATCHES} = {i}"


@register(
    "stream_incremental_dedup",
    _ORACLE,
    doc="streaming E2E: document stream near-dup-gated per micro-batch "
    "against an accumulating store (clean docs admitted, later batches "
    "dedup against them) — batches pinned by file mtime; oracle unrolls "
    "the three stages as chained CTEs "
    "(streaming/stream.incremental_dedup_stream)",
)
def stream_incremental_dedup(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    store0 = docs.where(F.expr(_STORE0))
    incoming = docs.where(~F.expr(_STORE0)).select("doc_id", "text")
    src = incoming.localCheckpoint()
    batches = [
        src.where(F.expr(_batch_pred_spark(i))) for i in range(_N_BATCHES)
    ]
    with replay(spark, batches) as r:
        return incremental_dedup_stream(
            r.stream, store0, verify_threshold=_THRESH
        )
