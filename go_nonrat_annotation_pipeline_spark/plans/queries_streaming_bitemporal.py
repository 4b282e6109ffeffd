"""Streaming bitemporal store query.

The stream twin of q_bitemporal_history: the synthesized assertion
log (backdated corrections included) arrives in three micro-batches
split by event_id, lands in the durable append-only store, and the
drained view must hash-equal the batch reconstruction over the whole
log — the view depends only on the assertion SET, so batching and
arrival order are invisible (streaming/bitemporal_stream.py doc)."""

from __future__ import annotations

import os

from ..streaming.bitemporal_stream import (
    assertions_stream_to_store,
    bitemporal_view,
)
from ..streaming.replay import replay
from ..operators import bitemporal as BT
from .registry import register
from .queries_bitemporal import _SRC, _asserts


@register(
    "stream_bitemporal_history",
    "    WITH "
    + _SRC
    + ","
    + BT.sql_bitemporal_ctes("btq_src", "user_id", None, "btq")
    + """
    SELECT user_id, val, valid_from_us, valid_to_us, version,
           n_superseded
    FROM btq_hist
    """,
    doc="streaming bitemporal store: assertions (with late "
    "corrections) drain through a durable append-only admit_batch "
    "store; the read-side latest-recording-wins resolve makes the "
    "view batching-, order-, and even duplicate-insensitive, so the "
    "drained history hash-equals the batch reconstruction",
)
def stream_bitemporal_history(spark, sf_dir):
    src = _asserts(spark, sf_dir).localCheckpoint()
    with replay(spark, [src.where(f"_tie % 3 = {i}") for i in range(3)]) as r:
        store = os.path.join(r.root, "store")
        assertions_stream_to_store(
            r.stream, store, os.path.join(r.root, "ckpt")
        )
        # pin the view before the temp store is removed (executor-side
        # blocks, not a driver collect — the family pattern)
        return bitemporal_view(spark, store).localCheckpoint()
