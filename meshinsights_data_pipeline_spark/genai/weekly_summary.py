"""Weekly summary curation (G1) + stage-pair sibling expansion (M9).

Reference: Requirements/ExampleAiCode.md:156-248
(`_curate_power_consumption_over_time`). Output shape (FIXTURES.md F4):

    week label "{sunday} - {saturday}" -> stage -> {count, mean, median,
    std_dev}

with mean/median/std_dev rounded to integers (``int(round(x, 0))`` — numpy
half-to-even, mirrored with Spark ``bround``) and std_dev the POPULATION
standard deviation (``ddof=0``, EAC:240).

Business rules (EAC:166-175):
1. Only stages with "High" variance are analysed; if one stage of a
   hot/cold pair is High, its sibling is analysed too (EAC:177-191).
2. Weeks with zero datapoints across all analysed stages are omitted
   (EAC:243-246) — falls out of groupBy (empty groups don't exist).
3. A stage appears in a week only if it has >= 1 datapoint that week
   (EAC:231-233) — also falls out of groupBy.

Scale note: the reference loops over generated week ranges and slices the
pandas frame per (week, stage) — O(weeks x stages) passes. Here it is ONE
hash aggregate keyed on (sunday_week, stage): map-side partial aggregation,
one shuffle, and only the tiny (week, stage, 4 stats) result is collected.
"""

from __future__ import annotations

from datetime import date, datetime
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.operators.weekly import (
    sunday_week_start,
    week_label,
)

# EAC:182-186 — the HVAC stage-pair domain.
DEFAULT_STAGE_PAIRS: tuple[frozenset[str], ...] = (
    frozenset({"cooling_stage_1", "cooling_stage_2"}),
    frozenset({"heating_stage_1", "heating_stage_2"}),
    frozenset({"fan_stage"}),
)


def stages_to_analyse(
    variance_analysis: dict[str, dict[str, Any]],
    stage_pairs: tuple[frozenset[str], ...] = DEFAULT_STAGE_PAIRS,
) -> set[str]:
    """M9 sibling expansion (EAC:177-191): High-variance stages plus, for
    any pair containing a High stage, the whole pair."""
    high = {
        stage
        for stage, meta in variance_analysis.items()
        if meta.get("variance") == "High"
    }
    out = set(high)
    for pair in stage_pairs:
        if high & pair:
            out |= pair
    return out


def _to_date(d: date | datetime | str | None) -> date | None:
    if d is None:
        return None
    if isinstance(d, str):
        return date.fromisoformat(d[:10])
    if isinstance(d, datetime):
        return d.date()
    return d


def weekly_summary(
    df: DataFrame,
    variance_analysis: dict[str, dict[str, Any]],
    stage_col: str = "tstate",
    value_col: str = "energy",
    ts_col: str = "timeStamp",
    stage_pairs: tuple[frozenset[str], ...] = DEFAULT_STAGE_PAIRS,
    stage_names: dict[Any, str] | None = None,
    start_date: date | datetime | str | None = None,
    end_date: date | datetime | str | None = None,
) -> dict[str, dict[str, dict[str, int]]]:
    """Build the F4 nested weekly dict with one Spark aggregate.

    ``stage_names`` maps raw ``stage_col`` values to display stage names
    (the reference's TSTATE_TO_STAGE lookup, EAC:197-200); by default the
    column values are used as stage names directly.

    When ``start_date``/``end_date`` are given, rows are kept if their
    Sunday week overlaps the snapped [prev-Sunday(start), week-of(end)]
    range — the same effective window as the reference's generated
    ``W-SUN`` week list, since zero-datapoint weeks are omitted anyway.
    """
    stages = stages_to_analyse(variance_analysis, stage_pairs)
    if not stages:
        return {}

    stage_expr = F.col(stage_col)
    if stage_names:
        mapping = F.create_map(
            *[F.lit(x) for kv in stage_names.items() for x in kv]
        )
        stage_expr = mapping[F.col(stage_col)]
    named = df.withColumn("_stage", stage_expr).filter(
        F.col("_stage").isin([str(s) for s in stages])
    )

    wk = sunday_week_start(ts_col)
    named = named.withColumn("_wk", wk).withColumn("_label", week_label(ts_col))
    start = _to_date(start_date)
    end = _to_date(end_date)
    if start is not None:
        named = named.filter(
            F.col("_wk") >= F.date_sub(F.next_day(F.lit(start), "SUN"), 7)
        )
    if end is not None:
        named = named.filter(
            F.col("_wk") <= F.date_sub(F.next_day(F.lit(end), "SUN"), 7)
        )

    v = F.col(value_col)
    agg = (
        named.groupBy("_wk", "_label", "_stage")
        .agg(
            F.count(F.lit(1)).alias("count"),
            # int(round(x, 0)) in the reference is numpy half-to-even ->
            # Spark bround (HALF_EVEN), then long.
            F.bround(F.avg(v), 0).cast("long").alias("mean"),
            F.bround(F.median(v), 0).cast("long").alias("median"),
            F.bround(F.stddev_pop(v), 0).cast("long").alias("std_dev"),
        )
    )

    # Tiny (|weeks| x |stages| rows), so ordered on the driver rather than
    # by a distributed sort: Spark's (week, stage) order, NULL week first
    # (a NULL timestamp). `_stage` is never NULL after the isin filter.
    rows = sorted(
        agg.collect(),
        key=lambda r: (r["_wk"] is not None, r["_wk"] or date.min, r["_stage"]),
    )
    out: dict[str, dict[str, dict[str, int]]] = {}
    for row in rows:
        out.setdefault(row["_label"], {})[row["_stage"]] = {
            "count": int(row["count"]),
            "mean": int(row["mean"]),
            "median": int(row["median"]),
            "std_dev": int(row["std_dev"]) if row["std_dev"] is not None else 0,
        }
    return out
