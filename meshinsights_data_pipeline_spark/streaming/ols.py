"""Incremental OLS fitting — the streaming twin of ``trend.ols_fit``.

The per-group regression moments (n, pivot mins, DECIMAL dx/dy folds,
quantized product folds) are ALMOST a mergeable sufficient statistic —
the wrinkle is the pivot: each batch's folds are relative to the
BATCH's own min, and two batches' folds only merge if they share one.
The twin therefore keeps RAW decimal-quantized coordinate sums
relative to a FIXED per-state pivot: the first batch that introduces a
group freezes that group's pivot (the streaming-KS fixed-bounds rule —
a data-derived reference must not re-anchor history), later batches
fold against it, and the per-epoch fit equals ``ols_fit`` over
everything ingested WHENEVER no later value undercuts the frozen
pivot. To keep parity EXACT rather than conditional, the caller
supplies explicit pivots (``x_floor`` / ``y_floor``) lower-bounding
the domain — the same contract as the histogram twin's ``lo``/``hi``:
the batch operator with those floors as the pivot is then identical
algebra, and this twin's reports are bit-identical to a batch fit that
uses the same floors. (``ols_fit`` itself uses per-group data minima;
for parity testing the twin exposes the same fixed-pivot algebra via
the state, and the parity test pins floors at the data's true minima.)

State = ``[group, n, sx, sy, sxy, sxx, syy]`` decimal/integer sums —
one row per group, merged by SUM. Report rows are
``[epoch, group, n, slope, intercept, r2]``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.state import (
    state_twin,
    with_epoch,
)


def streaming_ols_ingest(
    stream: DataFrame,
    group_col: str = "group",
    x_col: str = "x",
    y_col: str = "y",
    *,
    x_floor: float,
    y_floor: float,
    state_dir: str,
    report_dir: str,
    round_to: int = 6,
):
    """foreachBatch callable: SUM-merge batch regression moments
    (folded against the FIXED ``x_floor``/``y_floor`` pivots) into the
    state, recompute each group's slope/intercept/r2 from the merged
    moments, append with the epoch id.

    ``x_floor``/``y_floor`` are part of the state's identity and must
    lower-bound the domain (values below them would make the pivot
    trick lose the Welch anti-cancellation property, not correctness).
    Seed the state dir with ``snapshot_overwrite(empty, state_dir, -1)``
    (schema ``group string, n long, sx decimal(38,12),
    sy decimal(38,12), sxy decimal(38,6), sxx decimal(38,6),
    syy decimal(38,6)``).
    """
    d12, d6 = "decimal(38,12)", "decimal(38,6)"

    def _batch_moments(batch_df: DataFrame) -> DataFrame:
        x = F.col(x_col).cast("double")
        y = F.col(y_col).cast("double")
        keep = (
            x.isNotNull() & ~F.isnan(x) & y.isNotNull() & ~F.isnan(y)
            & F.col(group_col).isNotNull()
        )
        dx = x - F.lit(float(x_floor))
        dy = y - F.lit(float(y_floor))
        return (
            batch_df.filter(keep)
            .select(group_col, dx.alias("_dx"), dy.alias("_dy"))
            .groupBy(group_col)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.col("_dx").cast(d12)).cast(d12).alias("sx"),
                F.sum(F.col("_dy").cast(d12)).cast(d12).alias("sy"),
                F.sum((F.col("_dx") * F.col("_dy")).cast(d6))
                .cast(d6).alias("sxy"),
                F.sum((F.col("_dx") * F.col("_dx")).cast(d6))
                .cast(d6).alias("sxx"),
                F.sum((F.col("_dy") * F.col("_dy")).cast(d6))
                .cast(d6).alias("syy"),
            )
        )

    def step(batch_df, epoch_id, pin, prev):
        merged = (
            prev.select(group_col, "n", "sx", "sy", "sxy", "sxx", "syy")
            .union(_batch_moments(batch_df))
            .groupBy(group_col)
            .agg(
                F.sum("n").cast("bigint").alias("n"),
                F.sum("sx").cast(d12).alias("sx"),
                F.sum("sy").cast(d12).alias("sy"),
                F.sum("sxy").cast(d6).alias("sxy"),
                F.sum("sxx").cast(d6).alias("sxx"),
                F.sum("syy").cast(d6).alias("syy"),
            )
        )
        return [merged], lambda moments: [with_epoch(_report(moments), epoch_id)]

    def _report(merged: DataFrame) -> DataFrame:
        nD = F.col("n").cast("double")
        sx = F.col("sx").cast("double")
        sy = F.col("sy").cast("double")
        sxy = F.col("sxy").cast("double")
        sxx = F.col("sxx").cast("double")
        syy = F.col("syy").cast("double")
        cov_n = sxy - sx * sy / nD
        varx_n = sxx - sx * sx / nD
        vary_n = syy - sy * sy / nD
        slope = F.when((F.col("n") >= 2) & (varx_n > 0), cov_n / varx_n)
        intercept = F.when(
            slope.isNotNull(),
            (F.lit(float(y_floor)) + sy / nD)
            - slope * (F.lit(float(x_floor)) + sx / nD),
        )
        r2 = F.when(
            slope.isNotNull() & (vary_n > 0),
            (cov_n * cov_n) / (varx_n * vary_n),
        )
        rnd = lambda c: F.round(c, round_to) + F.lit(0.0)  # noqa: E731
        return merged.select(
            F.col(group_col),
            "n",
            rnd(slope).alias("slope"),
            rnd(intercept).alias("intercept"),
            rnd(r2).alias("r2"),
        )

    return state_twin(step, [(state_dir, None)], [report_dir])
