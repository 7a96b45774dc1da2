"""Per-stage curation (M7) — the reference's _curate_stage_data.

Reference semantics (Requirements/ExamplePipelineCode.md:363-453):
1. split by stage (tstate);
2. stage has identified issues, OR "High" variance -> EMPTY curated frame
   (refuse to build a baseline from unreliable data, :399-413,444-453);
3. "Low" variance -> per-cycle rollup with canonical schema
   [cycle, timeStamp, tstate, median_energy] (:418-441), where timeStamp and
   tstate are the cycle's chronologically-first values (made deterministic
   here via min / min_by, SURVEY §4 trap 2).

Spark-first: instead of a Python dict of per-stage frames, curation is ONE
lazy plan over all stages at once — a semi-join against the (tiny,
broadcast) set of curatable stages followed by the per-cycle aggregate. The
per-stage split of the reference is recovered by filtering the result, not
by materializing N frames.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def curate_stage_data(
    df: DataFrame,
    curatable_stages: Sequence,
    stage_col: str,
    cycle_col: str,
    value_col: str,
    ts_col: str,
) -> DataFrame:
    """Per-cycle medians for the curatable (Low-variance, issue-free) stages.

    Output schema: [stage, cycle, first_ts, median_<value>_cycle] — the F3
    curated-frame shape (FIXTURES.md F3), in no particular row order (every
    consumer aggregates it). Passing an empty stage list yields an empty
    frame with the same schema (the reference's empty-frame contract,
    EPC:433-437).
    """
    stages = list(curatable_stages)
    kept = df.filter(F.col(stage_col).isin(stages)) if stages else df.filter(F.lit(False))
    return kept.groupBy(stage_col, cycle_col).agg(
        F.min(ts_col).alias("first_ts"),
        F.median(value_col).alias(f"median_{value_col}_cycle"),
    )
