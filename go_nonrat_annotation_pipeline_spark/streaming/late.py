"""Late-data watermark audit over a micro-batched event stream.

Operational primitive for event-time pipelines: before trusting a
watermarked streaming aggregate, measure HOW MUCH data actually arrives
late — per micro-batch, how many rows fall behind the watermark the
engine would have been holding when they arrived (i.e. rows a
`withWatermark(delay)` windowed aggregate would silently drop).

Watermark semantics mirror Structured Streaming's update rule: the
watermark applied to batch i is max(event-time seen through batch i-1)
minus the allowed delay — it advances at batch BOUNDARIES, so batch 0
can never be late and a batch's own maximum does not penalize its own
rows. A row is late iff ts < watermark (strict).

The fold keeps one scalar (running max event-time) on the driver and
does two tiny aggregates per micro-batch — O(batches) driver work, all
row scanning stays distributed. This is deliberately NOT built on
Spark's internal watermark: the engine's value is per-query state the
audit must be independent of (and its per-partition min semantics are
not reproducible in an external oracle); the audit recomputes the
documented global rule exactly, which is what the DuckDB mirror checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .replay import drain


def late_data_audit(
    event_stream: DataFrame,
    delay_us: int,
    ts_col: str = "ts",
) -> DataFrame:
    """Drain ``event_stream``; return one row per micro-batch:
    (batch_id, n_late, n_ontime, wm_base_us) where wm_base_us is the
    running max event-time AFTER the batch (the next batch's watermark
    base)."""
    spark = event_stream.sparkSession
    records: list[tuple[int, int, int, int]] = []
    state = {"max_ts": None}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        b = batch_df.select(
            F.unix_micros(F.col(ts_col)).alias("ts_us")
        )
        prev_max = state["max_ts"]
        if prev_max is None:
            row = b.agg(
                F.count(F.lit(1)).alias("n"),
                F.max("ts_us").alias("mx"),
            ).first()
            n_late, n_total, mx = 0, row["n"], row["mx"]
        else:
            wm = prev_max - delay_us
            row = b.agg(
                F.sum(
                    F.when(F.col("ts_us") < F.lit(wm), 1).otherwise(0)
                ).alias("nl"),
                F.count(F.lit(1)).alias("n"),
                F.max("ts_us").alias("mx"),
            ).first()
            n_late, n_total, mx = row["nl"], row["n"], row["mx"]
        run_max = mx if prev_max is None else max(prev_max, mx)
        state["max_ts"] = run_max
        records.append(
            (int(batch_id), int(n_late), int(n_total - n_late), int(run_max))
        )

    drain(event_stream, handle)
    return spark.createDataFrame(
        records,
        "batch_id long, n_late long, n_ontime long, wm_base_us long",
    )
