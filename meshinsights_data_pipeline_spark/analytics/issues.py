"""Issue detectors (M5/M6).

Reference semantics (Requirements/ExamplePipelineCode.md:335-360):
- low_cycle_count: a stage with fewer than MIN_CYCLES_FOR_VALID_BASELINE
  (10) distinct cycles (:347-354).
- short_cycling: "rapid changes in power consumption over a given cycle"
  (:12, EAC:120); evaluated ONLY for stages with "High" variance that are
  not already low_cycle_count (:356-360). The reference implementation
  (src/algorithms/inner_cycle_algs.py) is not in the snapshot; the published
  HVAC meaning of short cycling — many abnormally short run cycles — is
  implemented here as: median cycle length (rows per cycle) below
  ``min_median_cycle_rows``. With minute-cadence telemetry, rows == minutes,
  so the default 10 flags stages whose typical cycle runs under 10 minutes.

Both come from one two-level aggregate (rows per cycle, then per stage):
two map-side-combinable shuffles and one collect of a stage-sized result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MIN_CYCLES_FOR_VALID_BASELINE = 10  # EPC:347-354


def stage_issue_flags(
    df: DataFrame,
    stage_col: str,
    cycle_col: str,
    min_cycles: int = MIN_CYCLES_FOR_VALID_BASELINE,
    min_median_cycle_rows: int = 10,
) -> DataFrame:
    """Per stage, both detectors from one two-level aggregate: rows per
    (stage, cycle), then per stage the distinct-cycle count (non-NULL
    cycles, as countDistinct counts them) with the ``low_cycle_count`` flag
    (EPC:347-354) and the exact median cycle length with the raw
    ``short_cycling`` flag. The flag is raw: the caller reports it only for
    High stages that are not ``low_cycle_count`` (EPC:356-360)."""
    per_cycle = df.groupBy(stage_col, cycle_col).agg(F.count(F.lit(1)).alias("cycle_rows"))
    return (
        per_cycle.groupBy(stage_col)
        .agg(
            F.count(cycle_col).alias("n_cycles"),
            F.median("cycle_rows").alias("median_cycle_rows"),
        )
        .withColumn("low_cycle_count", F.col("n_cycles") < min_cycles)
        .withColumn("short_cycling", F.col("median_cycle_rows") < min_median_cycle_rows)
    )
