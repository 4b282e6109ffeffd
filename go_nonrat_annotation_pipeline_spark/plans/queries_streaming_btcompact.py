"""Policy-compacted streaming bitemporal store.

The compaction twin of ``stream_bitemporal_history``: the SAME
synthesized assertion log drains through the policy-compacting handler
(streaming/bitemporal_compact.py) with the policy tuned to fold
BETWEEN the micro-batches, so the store is folded mid-stream — and the
committed view must STILL hash-equal the batch reconstruction over the
whole log, superseded-correction audit included. The oracle is
therefore byte-identical to the uncompacted twin's: compaction is
invisible to every reconstructible read, which is the entire
correctness claim of the fold (winner + carried absorb-count per
(key, valid) slot).
"""

from __future__ import annotations

import os

from ..operators import bitemporal as BT
from ..streaming.bitemporal_compact import (
    bitemporal_view_compacted,
    make_compacting_bitemporal_handler,
)
from ..streaming.replay import drain, replay
from .registry import register
from .queries_bitemporal import _SRC, _asserts


@register(
    "stream_bitemporal_compacted",
    "    WITH "
    + _SRC
    + ","
    + BT.sql_bitemporal_ctes("btq_src", "user_id", None, "btq")
    + """
    SELECT user_id, val, valid_from_us, valid_to_us, version,
           n_superseded
    FROM btq_hist
    """,
    doc="policy-compacted streaming bitemporal store: the store folds "
    "between micro-batches (per-(key,valid) winner + carried absorbed "
    "count, rename-only swap), yet the committed view — n_superseded "
    "audit included — hash-equals the uncompacted batch "
    "reconstruction; the store is bounded by the live slot domain "
    "instead of correction history",
)
def stream_bitemporal_compacted(spark, sf_dir):
    src = _asserts(spark, sf_dir).localCheckpoint()
    with replay(spark, [src.where(f"_tie % 3 = {i}") for i in range(3)]) as r:
        store = os.path.join(r.root, "store")
        # threshold 0 + check_every 1: fold at EVERY batch boundary —
        # the adversarial setting for the invisibility claim
        handler = make_compacting_bitemporal_handler(
            spark, store, threshold=0.0, check_every=1
        )
        drain(r.stream, handler, checkpoint=os.path.join(r.root, "ckpt"))
        return bitemporal_view_compacted(spark, store).localCheckpoint()
