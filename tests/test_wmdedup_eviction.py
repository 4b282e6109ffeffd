"""Watermark-TTL eviction semantics of dropDuplicatesWithinWatermark —
the state-bound behavior the operator was registered FOR, which the
oracle-checked query deliberately avoids exercising (its 90d delay
exceeds the 30d feed span so the kept-set stays deterministic).

Here the delay is 1 day and the feed spans 22 days across three
micro-batches, so a key's state provably evicts mid-feed: a duplicate
replayed AFTER eviction passes the gate again (correct TTL semantics —
this operator bounds state, it does not promise global dedup), while a
duplicate within the delay is dropped. The state-size metrics from the
stream's own progress log pin eviction numerically."""

from __future__ import annotations

import json

from go_nonrat_annotation_pipeline_spark.streaming.replay import drain, replay

DAY_US = 86_400 * 1_000_000
T0 = 1_600_000_000 * 1_000_000  # epoch-us base


def _batch(spark, rows):
    return spark.createDataFrame(
        [(k, ts // 1_000_000) for k, ts in rows], "user_id long, ts_s long"
    ).selectExpr("user_id", "CAST(to_timestamp(ts_s) AS TIMESTAMP) AS ts")


def test_duplicate_after_eviction_passes_the_gate(spark):
    batches = [
        # batch 0: A and C arrive
        _batch(spark, [(1, T0), (3, T0)]),
        # batch 1: C duplicates WITHIN the 1-day delay (dropped); B's
        # event 10 days on advances the watermark to T0+9d, past A's
        # and C's expiry (event time + 1d) -> both evict after this batch
        _batch(spark, [(3, T0 + DAY_US // 2), (2, T0 + 10 * DAY_US)]),
        # batch 2: eviction lags one batch — the watermark advanced by
        # batch 1 is applied during batch 2 and state removal runs at
        # its END, so this filler batch is what actually evicts A and C
        _batch(spark, [(4, T0 + 11 * DAY_US)]),
        # batch 3: A replays ABOVE the watermark after its state
        # evicted -> emitted AGAIN (TTL semantics, the documented
        # contract)
        _batch(spark, [(1, T0 + 22 * DAY_US)]),
    ]

    kept = []

    def handle(batch_df, batch_id):
        kept.extend(
            (r.user_id, r.ts) for r in batch_df.collect()
        )

    with replay(spark, batches) as r:
        q = drain(
            r.stream.withWatermark("ts", "1 day")
            .dropDuplicatesWithinWatermark(["user_id"]),
            handle,
        )
    progress = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in (json.loads(pp.json) for pp in q.recentProgress)
        if p.get("stateOperators") and p["numInputRows"] > 0
    ]

    by_key = {}
    for k, ts in kept:
        by_key.setdefault(k, []).append(ts)
    # C's in-delay duplicate was dropped; B and the filler emitted once
    assert len(by_key[3]) == 1
    assert len(by_key[2]) == 1
    assert len(by_key[4]) == 1
    # A emitted TWICE: original + post-eviction replay
    assert len(by_key[1]) == 2, by_key
    # state bounded: rows of state never exceed the live (unexpired)
    # key count, and eviction actually shrank it between batches —
    # state is delay x arrival rate, not feed history
    assert progress, "no state metrics captured"
    assert max(progress) <= 4
    # the eviction dip: state shrank between consecutive batches even
    # though every batch only ADDED keys (expected shape [2,3,2,3])
    assert any(b < a for a, b in zip(progress, progress[1:])), progress
