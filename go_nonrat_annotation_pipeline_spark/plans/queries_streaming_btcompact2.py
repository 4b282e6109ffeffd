"""As-of read AT/ABOVE the knowledge horizon on a bitemporal store
that ACTUALLY folded. The refusal path below the horizon is
pytest-pinned (tests/test_bitemporal_compact.py); this query exercises
a reconstructible as-of on a folded store.

The production rhythm this models: stream assertions, fold during a
quiet window (stream stopped, checkpoint committed — the epochal
contract), CONTINUE the same stream on the same checkpoint, then
reproduce a past run's view with an as-of cutoff that lies at/above
the fold's knowledge horizon. The log is split by RECORDED time at two
fixed instants T1 < T2 (events span 2024-01-01..30 at every SF, so
all three segments are non-empty): segments 0 and 1 drain first
(policy handler — opportunistic boundary folds included), the store is
folded OFFLINE (horizon := max recorded < T2 by construction, so the
cutoff T2 is reconstructible at any SF), segment 2 drains on the SAME
checkpoint, and the final read is ``as_of_us = T2`` — assertions
recorded at/after T2 are masked while every belief at T2 survives the
fold (winners carry their absorbed-correction counts). The oracle is
the plain uncompacted as-of SQL at T2 over the whole log: fold
invisibility for every reconstructible cutoff, now driver-checked on
the nontrivial cutoff (between horizon and max recorded), not just at
current knowledge.
"""

from __future__ import annotations

import os

from ..operators import bitemporal as BT
from ..streaming.bitemporal_compact import (
    bitemporal_view_compacted,
    fold_bitemporal_store,
    knowledge_horizon,
    make_compacting_bitemporal_handler,
)
from ..streaming.replay import drain, replay, stage
from .registry import register
from .queries_bitemporal import _SRC, _asserts

# recorded-time split instants: 2024-01-11 / 2024-01-21 00:00:00Z
_T1_US = 1_704_931_200_000_000
_T2_US = 1_705_795_200_000_000


@register(
    "stream_btcompact_asof",
    "    WITH "
    + _SRC
    + ","
    + BT.sql_bitemporal_ctes("btq_src", "user_id", _T2_US, "btq")
    + """
    SELECT user_id, val, valid_from_us, valid_to_us, version,
           n_superseded
    FROM btq_hist
    """,
    doc="as-of reconstruction at a cutoff at/above the knowledge "
    "horizon of a policy-compacted store that folded mid-history "
    "(stream segments 0-1, offline fold, segment 2 on the same "
    "checkpoint): later-recorded assertions are masked, absorbed "
    "corrections stay counted via the fold carry, and the result "
    "hash-equals the uncompacted as-of SQL — the reconstructible "
    "half of the retention boundary, whose refusal half is "
    "pytest-pinned",
)
def stream_btcompact_asof(spark, sf_dir):
    src = _asserts(spark, sf_dir).localCheckpoint()
    segments = [
        src.where(f"recorded_us < {_T1_US}"),
        src.where(f"recorded_us >= {_T1_US} AND recorded_us < {_T2_US}"),
        src.where(f"recorded_us >= {_T2_US}"),
    ]
    with replay(spark, segments[:2]) as r:
        store = os.path.join(r.root, "store")
        ckpt = os.path.join(r.root, "ckpt")

        def run() -> None:
            handler = make_compacting_bitemporal_handler(
                spark, store, threshold=0.0, check_every=1
            )
            drain(r.stream, handler, checkpoint=ckpt)

        run()
        # offline fold in the quiet window (epochal contract: stream
        # stopped, checkpoint committed). Horizon = max recorded over
        # segments 0-1 < T2, so the T2 cutoff stays reconstructible.
        fold_bitemporal_store(spark, store)
        h = knowledge_horizon(store)
        assert h is not None and h < _T2_US, (h, _T2_US)
        stage(segments[2], r.staged, 2)
        run()  # same checkpoint: only the new file replays
        return bitemporal_view_compacted(
            spark, store, as_of_us=_T2_US
        ).localCheckpoint()
