"""Streaming late-data watermark audit (streaming/late.py).

The stream is the events log split into three ARRIVAL-ordered
micro-batches by event_id modulus (arrival order deliberately ≠
event-time order — that disorder is what makes data late), replayed
in that order. The audit recomputes Structured Streaming's documented
watermark rule (wm for batch i = max event-time through batch i-1,
minus delay) and counts the rows a withWatermark(delay) aggregate
would drop. The DuckDB oracle replays the same batch assignment with
a running-max window — a hash match proves the fold applies the rule
exactly.
"""

from __future__ import annotations

from ..sources.testdata import load_table
from ..streaming.late import late_data_audit
from ..streaming.replay import replay
from .registry import register

_N_BATCHES = 3
_DELAY_US = 3_600_000_000  # 1 hour allowed lateness


@register(
    "stream_late_data_audit",
    f"""
    WITH b AS (
      SELECT event_id % {_N_BATCHES} AS batch_id,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us
      FROM events
    ), mx AS (
      SELECT batch_id, MAX(ts_us) AS bmax FROM b GROUP BY batch_id
    ), run AS (
      SELECT batch_id,
             MAX(bmax) OVER (ORDER BY batch_id
                 ROWS UNBOUNDED PRECEDING) AS run_max,
             MAX(bmax) OVER (ORDER BY batch_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM mx
    )
    SELECT b.batch_id,
           CAST(SUM(CASE WHEN r.prev_max IS NOT NULL
                          AND b.ts_us < r.prev_max - {_DELAY_US}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           CAST(SUM(CASE WHEN r.prev_max IS NULL
                          OR b.ts_us >= r.prev_max - {_DELAY_US}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ontime,
           CAST(MAX(r.run_max) AS BIGINT) AS wm_base_us
    FROM b JOIN run r USING (batch_id)
    GROUP BY b.batch_id
    """,
    doc="late-data watermark audit: per micro-batch, how many rows "
    "arrive behind the watermark Structured Streaming would hold "
    "(max event-time through the PREVIOUS batch minus 1h) — the rows "
    "a withWatermark windowed aggregate silently drops; oracle "
    "replays the batch split with a running-max window "
    "(streaming/late.late_data_audit)",
)
def stream_late_data_audit(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    src = events.select("event_id", "ts").localCheckpoint()
    # arrival order = event_id % _N_BATCHES, NOT event-time order
    batches = [
        src.where(f"event_id % {_N_BATCHES} = {i}") for i in range(_N_BATCHES)
    ]
    with replay(spark, batches) as r:
        # late_data_audit drains eagerly and returns driver-built rows
        return late_data_audit(r.stream, _DELAY_US)
