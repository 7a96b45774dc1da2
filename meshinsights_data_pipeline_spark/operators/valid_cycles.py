"""Valid-cycle filter (P5/P6/J3/J4): the reference's _filter_valid_cycles.

Reference semantics (Requirements/ExamplePipelineCode.md:156-218):
per-cycle stats (count, median, deterministic mode) -> drop null-mode rows ->
keep cycles with count >= min_cycle_length AND median > min_median AND
mode > min_mode -> keep the rows of the valid cycles.

Spark-first: one pass of window aggregates over the cycle keys tags every
row with its cycle's verdict (``_flagged``), and the two public
filters keep one side of it. The mode is the pair-count rewrite of
``operators.mode.grouped_mode`` taken as a window minimum: the count of
each (cycle, value) pair, then the smallest (-count, value) struct per
cycle, so ties go to the smallest value and NULL, which sorts first in a
struct, counts as a value and wins its ties.

NULL keys: the aggregate + semi-join form drops rows whose stage or cycle
is NULL, since NULL never joins; the window form groups them, so the predicate
requires every key to be non-NULL to keep that behaviour.

Scale: one shuffle on the cycle key. The (cycle, value) window partitions
by a superset of the cycle key, so the planner reuses the cycle-key
exchange and only re-sorts within it; the fact rows are never joined back.
A cycle's rows sit in one task for the window, which bounds the skew to the
longest cycle (minutes to hours of telemetry), not to a device or stage.
The former form (per-cycle stats and mode aggregates, a join of the two,
a broadcast semi-join back onto the rows) shuffled three times; checkpointing
its output over one sessionized device (about 26k rows, 4 cores) ran 7
Spark jobs in about 1.2 s, the window form 3 jobs in about 0.8 s.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_FLAG, _PAIRS = "__valid_cycle", "__pair_count"


def _flagged(
    df: DataFrame,
    cycle_cols: Sequence[str],
    value_col: str,
    min_cycle_length: int,
    min_median: float,
    min_mode: float,
) -> DataFrame:
    """``df`` plus the never-NULL boolean ``_FLAG``: the valid-cycle
    predicate (EPC:183-218), the one definition both filters share."""
    w = Window.partitionBy(*cycle_cols)
    v = F.col(value_col)
    # The cycle-key window runs first so that its exchange also serves the
    # (cycle, value) window above it: one shuffle instead of two.
    flagged = (
        df.withColumn(_FLAG, (F.count(F.lit(1)).over(w) >= min_cycle_length)
                      & (F.median(v).over(w) > min_median))
        .withColumn(_PAIRS, F.count(F.lit(1)).over(Window.partitionBy(*cycle_cols, value_col)))
    )
    mode = F.min(F.struct((-F.col(_PAIRS)).alias("n"), v.alias("v"))).over(w)["v"]
    valid = F.col(_FLAG) & (mode > min_mode)
    for c in cycle_cols:
        valid = valid & F.col(c).isNotNull()
    return flagged.withColumn(_FLAG, F.coalesce(valid, F.lit(False))).drop(_PAIRS)


def filter_valid_cycles(
    df: DataFrame,
    cycle_cols: Sequence[str],
    value_col: str,
    min_cycle_length: int = 4,
    min_median: float = 0.0,
    min_mode: float = 0.0,
) -> DataFrame:
    """Keep only rows belonging to valid cycles (EPC:211-218)."""
    flagged = _flagged(df, cycle_cols, value_col, min_cycle_length, min_median, min_mode)
    return flagged.filter(F.col(_FLAG)).drop(_FLAG)


def invalid_cycle_rows(
    df: DataFrame,
    cycle_cols: Sequence[str],
    value_col: str,
    min_cycle_length: int = 4,
    min_median: float = 0.0,
    min_mode: float = 0.0,
) -> DataFrame:
    """Complement of filter_valid_cycles (J4; EPC:27): together the two
    partition the input rows."""
    flagged = _flagged(df, cycle_cols, value_col, min_cycle_length, min_median, min_mode)
    return flagged.filter(~F.col(_FLAG)).drop(_FLAG)
