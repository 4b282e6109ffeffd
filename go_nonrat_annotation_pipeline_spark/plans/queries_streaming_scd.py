"""Streaming SCD2 dimension-maintenance query
(streaming/scd_stream.py).

The maintained ≡ recompute contract, proved by the oracle: the stream
is the events log split into three time-ordered micro-batches
(replayed in order by streaming/replay.py), the incremental dimension is
folded batch-by-batch, and the DuckDB oracle is the SAME batch-rebuild
SQL q_scd2_history uses over the whole log — a hash match means the
incremental fold is exactly equivalent to recomputing from scratch.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import scd as SCD
from ..sources.testdata import load_table
from ..streaming.replay import replay
from ..streaming.scd_stream import scd2_dimension_stream
from .registry import register

_N_BATCHES = 3


def _time_ordered_batches(events):
    """Split the events log into three time-ordered batches at global
    (ts, event_id) rank terciles — staging only, the operator under
    test never sees a global sort."""
    n = events.count()
    ranked = (
        events.withColumn(
            "_rn",
            F.row_number().over(Window.orderBy("ts", "event_id")),
        )
        .withColumn("_b", ((F.col("_rn") - 1) * _N_BATCHES / n).cast("int"))
        .localCheckpoint()
    )
    return [
        ranked.where(F.col("_b") == i).select(
            "event_id", "user_id", "ts", "event_type"
        )
        for i in range(_N_BATCHES)
    ]


@register(
    "stream_scd2_dimension",
    "    WITH " + SCD.sql_scd2_history_ctes() + """
    SELECT user_id, attr, valid_from_us, valid_to_us, version,
           CAST(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END
                AS BIGINT) AS is_current
    FROM scd
    """,
    doc="streaming SCD2: the events log replayed as three time-ordered "
    "micro-batches folds into the SAME versioned dimension a batch "
    "rebuild computes (oracle = the batch SQL) — open intervals "
    "extend/close per batch, closed history append-only, "
    "O(|batch|+|keys|) per trigger (streaming/scd_stream."
    "scd2_dimension_stream)",
)
def stream_scd2_dimension(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    with replay(spark, _time_ordered_batches(events)) as r:
        # drains eagerly; the result is rooted at localCheckpointed state
        return scd2_dimension_stream(r.stream)
