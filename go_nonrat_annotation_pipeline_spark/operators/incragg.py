"""Incremental aggregate maintenance (materialized-view delta merge).

Day-2 warehouse primitive: a stored per-group aggregate (a materialized
rollup of a 100 TB fact table) must follow the table through a CDC
batch WITHOUT rescanning the base. Count and sum are self-maintainable
aggregates (Gupta & Mumick, "Maintenance of Materialized Views:
Problems, Techniques, and Applications", IEEE DE Bulletin 1995): apply
each change as a signed delta row and re-aggregate state ∪ deltas.

  - deleted row        → (group_old, -1, -measure_old)
  - added row          → (group_new, +1, +measure_new)
  - changed row        → BOTH deltas (the group key itself may move)
  - unchanged row      → nothing

Cost is O(|CDC| + |state|) — one hash aggregate over the union of the
(group-cardinality-sized) state and the (batch-sized) delta rows; the
new 100 TB snapshot is never read. The algebraic contract — maintained
state ≡ recompute over the new snapshot — is exactly what the registry
oracle checks: the Spark side maintains, the DuckDB oracle recomputes
directly, and the driver hash-compares the results.

Input CDC is the output of operators/diff.snapshot_diff (change_type +
``<col>_old`` / ``<col>_new`` pairs), the generic form of the
reference's upsert decision (DAO.java:169-226).

All state arithmetic is BIGINT (counts and an exact integer measure) so
the cross-engine hash boundary is float-free by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..streaming.replay import drain
from .diff import CHANGE_COL


def group_agg_state(
    df: DataFrame,
    group_col: str,
    measure_col: str,
    n_col: str = "n",
    total_col: str = "total",
) -> DataFrame:
    """The maintainable state: per-group row count + exact BIGINT sum."""
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias(n_col),
        F.sum(F.col(measure_col).cast("long")).alias(total_col),
    )


def incremental_agg_maintain(
    state: DataFrame,
    cdc: DataFrame,
    group_col: str,
    measure_col: str,
    n_col: str = "n",
    total_col: str = "total",
) -> DataFrame:
    """Merge a CDC batch into a per-group (count, sum) state.

    ``state``: (group_col, n_col, total_col) as built by
    :func:`group_agg_state`. ``cdc``: snapshot_diff output whose
    compare_cols included BOTH ``group_col`` and ``measure_col``.
    Groups whose maintained count reaches zero are dropped (they no
    longer exist in the base). One union + one hash aggregate; never
    touches the base table.
    """
    removals = cdc.where(F.col(CHANGE_COL).isin("deleted", "changed")).select(
        F.col(f"{group_col}_old").alias(group_col),
        F.lit(-1).cast("long").alias(n_col),
        (-F.col(f"{measure_col}_old").cast("long")).alias(total_col),
    )
    additions = cdc.where(F.col(CHANGE_COL).isin("added", "changed")).select(
        F.col(f"{group_col}_new").alias(group_col),
        F.lit(1).cast("long").alias(n_col),
        F.col(f"{measure_col}_new").cast("long").alias(total_col),
    )
    return (
        state.select(group_col, n_col, total_col)
        .unionByName(removals)
        .unionByName(additions)
        .groupBy(group_col)
        .agg(F.sum(n_col).alias(n_col), F.sum(total_col).alias(total_col))
        .where(F.col(n_col) > 0)
    )


def incremental_agg_stream(
    cdc_stream: DataFrame,
    initial_state: DataFrame,
    group_col: str,
    measure_col: str,
) -> DataFrame:
    """Streaming form: a stream of CDC rows (snapshot_diff columns)
    folds into the maintained state micro-batch by micro-batch via
    foreachBatch — the foreachBatch → MERGE posture with the merge
    being :func:`incremental_agg_maintain`.

    Count/sum deltas COMMUTE, so the final state is independent of how
    the CDC rows are batched or ordered — no batch pinning needed for
    determinism (unlike the order-dependent dedup admission streams).
    Returns the final state as a batch DataFrame.
    """
    state = {"agg": initial_state.localCheckpoint()}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        state["agg"] = incremental_agg_maintain(
            state["agg"],
            batch_df.localCheckpoint(),
            group_col,
            measure_col,
        ).localCheckpoint()

    drain(cdc_stream, handle)
    return state["agg"]
