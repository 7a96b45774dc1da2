"""Core framework tests — mirrors the reference's own test spec
(Architectural Options/Opus.md:662-711): tiny inline frame -> one processor ->
assert row counts + stages metadata; error-path on empty context; plus
pipeline semantics (conditions, checkpoints, error policy, run_partial)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.core import Pipeline, PipelineConfig, PipelineContext, Processor
from meshinsights_data_pipeline_spark.operators.valid_cycles import filter_valid_cycles


def _fixture_df(spark):
    # Opus.md:674-679 fixture: cycles [1,1,1,2,2,3,3,3,3,3], cycle 2 zero-median.
    base = datetime(2024, 1, 1)
    rows = list(
        zip(
            [1, 1, 1, 2, 2, 3, 3, 3, 3, 3],
            [100.0, 150.0, 120.0, 0.0, 0.0, 200.0, 250.0, 230.0, 240.0, 220.0],
            [base + timedelta(hours=i) for i in range(10)],
        )
    )
    return spark.createDataFrame(rows, "cycle int, energy double, timestamp timestamp")


class FilterValidCycles(Processor):
    def __init__(self, min_cycle_length=3, min_median_energy=10.0, **kw):
        super().__init__(**kw)
        self.min_cycle_length = min_cycle_length
        self.min_median_energy = min_median_energy

    def validate_prerequisites(self, context):
        if context.raw_data is None:
            raise ValueError("No raw data available")
        self.require_columns(context.raw_data, ["cycle", "energy"])

    def process(self, context):
        df = context.raw_data
        kept = filter_valid_cycles(
            df, ["cycle"], "energy",
            min_cycle_length=self.min_cycle_length,
            min_median=self.min_median_energy,
            min_mode=self.min_median_energy,
        )
        n_before = df.select(F.countDistinct("cycle")).first()[0]
        n_after = kept.select(F.countDistinct("cycle")).first()[0]
        out = context.model_copy(update={"raw_data": kept})
        out.stages[self.name] = {
            "valid_cycles": n_after,
            "cycles_removed": n_before - n_after,
        }
        return out


def test_filter_valid_cycles_fixture(spark):
    # Opus.md:689 uses min_cycle_length=3 but its asserted outcome (only cycle
    # 3 survives) is only consistent with the real workload's `count >= 4`
    # (ExamplePipelineCode.md:211-215): cycle 1 has 3 rows and median 120.
    # We pin the workload semantics.
    ctx = PipelineContext(pipeline_name="t", correlation_id="c", raw_data=_fixture_df(spark))
    out = FilterValidCycles(min_cycle_length=4, min_median_energy=10.0)(ctx)
    assert out.raw_data.count() == 5  # only cycle 3 survives (Opus.md:692-695)
    assert out.stages["FilterValidCycles"]["valid_cycles"] == 1
    assert out.stages["FilterValidCycles"]["cycles_removed"] == 2
    assert out.execution_log[-1]["status"] == "success"


def test_empty_context_raises(spark):
    ctx = PipelineContext(pipeline_name="t", correlation_id="c")
    with pytest.raises(ValueError, match="No raw data available"):
        FilterValidCycles()(ctx)


class AddStage(Processor):
    def __init__(self, key, **kw):
        super().__init__(name=key, **kw)
        self.key = key

    def process(self, context):
        out = context.model_copy()
        out.stages = {**context.stages, self.key: True}
        return out


class Boom(Processor):
    def process(self, context):
        raise RuntimeError("boom")


def test_pipeline_conditions_skip(spark):
    p = Pipeline([AddStage("a"), AddStage("b")], conditions={"b": lambda c: False})
    out = p.run(PipelineContext())
    assert "a" in out.stages and "b" not in out.stages
    assert any(e.get("skipped") for e in out.execution_log if e["processor"] == "b")


def test_pipeline_stop_on_error(spark):
    p = Pipeline([Boom(), AddStage("after")], config=PipelineConfig(stop_on_error=True))
    with pytest.raises(RuntimeError, match="boom"):
        p.run(PipelineContext())


def test_pipeline_continue_on_error(spark):
    p = Pipeline(
        [Boom(stop_on_error=False), AddStage("after")],
        config=PipelineConfig(stop_on_error=False),
    )
    out = p.run(PipelineContext())
    assert "after" in out.stages
    assert out.errors and out.errors[0]["processor"] == "Boom"


def test_pipeline_checkpoints(spark):
    p = Pipeline([AddStage("a"), AddStage("b")], config=PipelineConfig(enable_checkpoints=True))
    out = p.run(PipelineContext())
    assert set(p.checkpoints) == {"a", "b"}
    assert "b" not in p.checkpoints["a"].stages  # snapshot is point-in-time
    # snapshot isolation: mutating the live context doesn't touch checkpoints
    out.stages["z"] = True
    assert "z" not in p.checkpoints["b"].stages


def test_run_partial(spark):
    p = Pipeline([AddStage("a"), AddStage("b"), AddStage("c")])
    out = p.run_partial(PipelineContext(), "b", "c")
    assert set(out.stages) == {"b", "c"}
    with pytest.raises(StopIteration):
        p.run_partial(PipelineContext(), "x", "c")


# ---------------------------------------------------------------------------
# Valid-cycle semantics, pinned case by case. A cycle is keyed by (stage,
# cycle); it is valid when count(*) >= 4, median(energy) > 0 and the mode
# > 0. The mode is the most frequent value with NULL counted as a value;
# ties go to the smallest value, NULL sorting first. Rows whose stage or
# cycle is NULL belong to no valid cycle.

_N = None


def _cycles_df(spark):
    cases = {
        # (stage, cycle): energies
        ("a", 1): [10.0, 11.0, 11.0, 12.0],           # valid
        ("a", 2): [5.0, 5.0, 6.0, _N],                # NULL counts: 4 rows, valid
        ("a", 3): [_N, _N, _N, 5.0, 5.0],             # NULL is the mode: dropped
        ("a", 4): [_N, _N, 5.0, 5.0, 5.0],            # 5.0 beats NULL: valid
        ("b", 1): [_N, _N, 5.0, 5.0, 6.0],            # NULL ties 5.0, sorts first: dropped
        ("b", 2): [-1.0, -1.0, 6.0, 6.0, 9.0],        # tie, smallest (-1) wins: dropped
        ("b", 3): [2.0, 2.0, 7.0, 7.0, 1.0],          # tie, smallest (2) wins: valid
        ("b", 4): [_N, _N, _N, _N],                   # all NULL: dropped
        ("b", 5): [3.0, 3.0, 3.0],                    # too short: dropped
        ("b", 6): [0.0, 0.0, 0.0, 8.0, 9.0],          # median 0: dropped
        (_N, 1): [10.0, 10.0, 10.0, 10.0],            # NULL stage: dropped
        ("a", _N): [10.0, 10.0, 10.0, 10.0],          # NULL cycle: dropped
        (_N, _N): [10.0, 10.0, 10.0, 10.0],           # both NULL: dropped
    }
    rows = [(s, c, v, i) for i, ((s, c), vs) in enumerate(cases.items()) for v in vs]
    return spark.createDataFrame(rows, "tstate string, cycle long, energy double, case int")


_VALID = {("a", 1), ("a", 2), ("a", 4), ("b", 3)}


def test_valid_cycles_null_tie_and_key_semantics(spark):
    df = _cycles_df(spark)
    kept = filter_valid_cycles(df, ["tstate", "cycle"], "energy", min_cycle_length=4)
    got = {(r["tstate"], r["cycle"]) for r in kept.select("tstate", "cycle").collect()}
    assert got == _VALID
    # Whole cycles survive, NULL energies included.
    assert kept.count() == 4 + 4 + 5 + 5
    assert kept.columns == df.columns


def test_valid_and_invalid_cycles_partition_the_input(spark):
    from meshinsights_data_pipeline_spark.operators.valid_cycles import invalid_cycle_rows

    df = _cycles_df(spark)
    keys = ["tstate", "cycle"]
    kept = filter_valid_cycles(df, keys, "energy", min_cycle_length=4)
    dropped = invalid_cycle_rows(df, keys, "energy", min_cycle_length=4)
    assert kept.count() + dropped.count() == df.count()
    both = kept.unionByName(dropped)
    assert both.exceptAll(df).count() == 0 and df.exceptAll(both).count() == 0
    assert not {(r["tstate"], r["cycle"]) for r in dropped.collect()} & _VALID
