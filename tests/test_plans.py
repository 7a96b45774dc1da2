"""Physical-plan audits: the scale properties the engine relies on must be
visible in the plans, not assumed (predicate pushdown, column pruning,
broadcast joins, map-side partial aggregation, codegen).
"""

from __future__ import annotations

import pytest

from meshinsights_data_pipeline_spark.plans.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name].spark(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q02_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q02")
    assert "PushedFilters" in plan
    assert "EqualTo(event_type,purchase)" in plan


def test_q01_scan_prunes_columns(spark):
    plan = _plan(spark, "q01")
    # only the three projected columns reach the parquet reader
    assert "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>" in plan


def test_q28_dims_broadcast(spark):
    plan = _plan(spark, "q28")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_q09_partial_aggregation(spark):
    plan = _plan(spark, "q09")
    # hash aggregate splits into partial (map-side) + final around the shuffle
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_q25_no_python_udf(spark):
    # the flagship E2E slice is pure JVM: no Python evaluation nodes
    plan = _plan(spark, "q25")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert marker not in plan


@pytest.mark.parametrize("name", ["q01", "q05", "q14", "q20", "q25"])
def test_wholestage_codegen_present(spark, name):
    # AQE's pre-execution plan string hides codegen stage markers; disable it
    # for the audit so WholeStageCodegen subtrees print as "*(n)" prefixes.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(spark, name)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "*(" in plan


def test_x24_salted_quota_two_window_phases(spark):
    # local top-n per (key, salt), then true top-n per key — two Window nodes,
    # never a single-task window over a whole hot key
    plan = _plan(spark, "x24_source_quota")
    assert plan.count("RunningWindowFunction") >= 2 or plan.count("Window") >= 2


def test_x25_benchmark_side_broadcast(spark):
    # the benchmark shingle set must broadcast; the corpus side never
    # shuffles into a sort-merge join against it
    plan = _plan(spark, "x25_contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_x27_url_dedup_jvm_only_partial_agg(spark):
    # canonicalization is pure builtins (no Python eval) and the dedup
    # aggregate map-side combines before its single shuffle
    plan = _plan(spark, "x27_url_dedup")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "partial_min" in plan or "partial min" in plan.lower()


def test_funnel_semantics(spark):
    from datetime import datetime as dt

    from meshinsights_data_pipeline_spark.operators.funnel import (
        funnel_counts,
        funnel_times,
    )

    t = lambda m: dt(2026, 1, 1, 0, m)
    rows = [
        # u1 full path: view@1 -> click@2 -> purchase@3
        (1, t(1), "view"), (1, t(2), "click"), (1, t(3), "purchase"),
        # u2 wrong order: click BEFORE its first view -> stops at step 1
        (2, t(5), "view"), (2, t(4), "click"),
        # u3 same-instant click (strict >) -> stops at step 1
        (3, t(1), "view"), (3, t(1), "click"),
        # u4 never enters the funnel (no view)
        (4, t(1), "click"), (4, t(2), "purchase"),
        # u5 reaches step 2; purchase precedes the click -> stops there
        (5, t(1), "view"), (5, t(3), "click"), (5, t(2), "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    steps = ["view", "click", "purchase"]
    reached = {r.user_id: r.step_reached for r in
               funnel_times(ev, "user_id", "ts", "event_type", steps).collect()}
    assert reached == {1: 3, 2: 1, 3: 1, 5: 2}  # u4 absent: never entered
    counts = {r.step: r.users for r in
              funnel_counts(ev, "user_id", "ts", "event_type", steps).collect()}
    assert counts == {1: 4, 2: 2, 3: 1}


def test_cohort_retention_semantics(spark):
    from datetime import datetime as dt

    from meshinsights_data_pipeline_spark.operators.funnel import (
        cohort_retention,
    )

    # Sunday 2026-01-04 starts week W0; 2026-01-11 W1; 2026-01-18 W2.
    rows = [
        (1, dt(2026, 1, 5)),   # u1 cohort W0
        (1, dt(2026, 1, 7)),   # same week, distinct-collapsed
        (1, dt(2026, 1, 14)),  # active W1
        (2, dt(2026, 1, 6)),   # u2 cohort W0, never returns
        (3, dt(2026, 1, 13)),  # u3 cohort W1
        (3, dt(2026, 1, 24)),  # active W2 -> offset 1... (Jan 24 is Sat of W2)
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(str(r.cohort_week), r.week_offset): r.users
           for r in cohort_retention(ev, "user_id", "ts").collect()}
    assert got == {
        ("2026-01-04", 0): 2,  # u1, u2
        ("2026-01-04", 1): 1,  # u1 returns
        ("2026-01-11", 0): 1,  # u3
        ("2026-01-11", 1): 1,  # u3 returns (Jan 18-24 week, offset 1)
    }


def test_funnel_no_entrants(spark):
    from datetime import datetime as dt

    from meshinsights_data_pipeline_spark.operators.funnel import funnel_counts

    ev = spark.createDataFrame(
        [(1, dt(2026, 1, 1), "click")], "user_id long, ts timestamp, event_type string"
    )
    out = {r.step: r.users for r in
           funnel_counts(ev, "user_id", "ts", "event_type",
                         ["view", "click"]).collect()}
    # nobody entered the funnel -> one zero row per declared step (matches
    # the X44 oracle, which emits every step), not an empty frame
    assert out == {1: 0, 2: 0}


def test_debounce_semantics(spark):
    """Raw-relative debounce: a burst collapses to its first event, a
    boundary gap EXACTLY equal to min_gap is dropped (strict >), keys
    don't interfere, and a 1-row key always survives."""
    import datetime as dt

    from meshinsights_data_pipeline_spark.operators.debounce import debounce

    t0 = dt.datetime(2024, 1, 1)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)
    rows = [
        (1, 1, "a", s(0)),    # keep (first)
        (1, 2, "a", s(5)),    # drop (5 <= 10)
        (1, 3, "a", s(10)),   # drop (gap to raw prev = 5)
        (1, 4, "a", s(21)),   # keep (gap 11 > 10)
        (1, 5, "a", s(31)),   # drop (gap exactly 10: strict >)
        (1, 6, "b", s(1)),    # keep (different key)
        (2, 7, "a", s(2)),    # keep (different user)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp_ntz"
    )
    kept = sorted(
        r.event_id
        for r in debounce(
            df, ["user_id", "event_type"], ["ts", "event_id"], "ts", 10
        ).collect()
    )
    assert kept == [1, 4, 6, 7]

    import pytest

    with pytest.raises(ValueError, match="positive"):
        debounce(df, ["user_id"], ["ts"], "ts", 0)


def test_no_query_returns_complex_typed_columns(spark, sf_smoke):
    """Driver-harness contract: external result canonicalizers load rows
    into pandas and sort them, which crashes on list/dict-valued cells
    (the q44 round-5 red row). Every declared query must therefore
    return only scalar-typed columns — emit arrays as delimited strings
    (concat_ws) and maps/structs as JSON."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from meshinsights_data_pipeline_spark.plans.queries import QUERIES

    offenders = {}
    for name, q in QUERIES.items():
        schema = q.spark(spark, sf_smoke).schema
        bad = [
            f.name for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_every_query_has_an_oracle():
    """Every declared query ships with its DuckDB oracle SQL: a missing
    oracle silently downgrades the external correctness check to a
    rows-only signal. (Genuinely non-SQL-expressible operators live
    outside queries() — streaming twins, GMM — so inside it, no oracle
    means a mistake, not a design choice.)"""
    from meshinsights_data_pipeline_spark.plans.queries import QUERIES

    missing = [n for n, q in QUERIES.items() if not q.oracle]
    assert not missing, missing


def test_state_transitions_hand_example(spark):
    """Markov transition counts on a hand-checkable sequence: A->B->A->A
    for user 1 (transitions AB, BA, AA) and B->B for user 2; ties on ts
    resolved by the tiebreak column so the sequence is deterministic."""
    from meshinsights_data_pipeline_spark.operators.funnel import (
        state_transitions,
    )

    rows = [
        (1, 1, "2024-01-01 00:00:00", "A"),
        (1, 2, "2024-01-01 00:00:01", "B"),
        (1, 3, "2024-01-01 00:00:02", "A"),
        (1, 4, "2024-01-01 00:00:02", "A"),  # same ts: event_id breaks tie
        (2, 5, "2024-01-01 00:00:00", "B"),
        (2, 6, "2024-01-01 00:00:01", "B"),
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts_s string, state string"
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    got = {
        (r.from_state, r.to_state): (r.n, r.p)
        for r in state_transitions(
            df, "user_id", "ts", "state", tiebreak_col="event_id"
        ).collect()
    }
    assert got == {
        ("A", "B"): (1, 0.5),
        ("A", "A"): (1, 0.5),
        ("B", "A"): (1, 0.5),
        ("B", "B"): (1, 0.5),
    }
    # row-stochastic: p sums to 1 per from_state
    for s in ("A", "B"):
        assert sum(p for (f, _), (_, p) in got.items() if f == s) == 1.0


def test_sessionize_by_gap_boundary_semantics(spark):
    """Exactly-gap stays in-session (strict >); one-over splits; session
    ids are 1..k per entity in time order."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from meshinsights_data_pipeline_spark.operators.sessionize import (
        sessionize_by_gap,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (1, 1, base),
        (1, 2, base + timedelta(seconds=600)),        # exactly gap: same
        (1, 3, base + timedelta(seconds=1201)),       # 601s later: splits
        (2, 4, base),
    ]
    df = spark.createDataFrame(rows, "u long, eid long, ts timestamp")
    got = {
        r.eid: r.session
        for r in sessionize_by_gap(
            df, "ts", 600, ["u"], tiebreak=[F.col("eid")]
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_sessionize_by_gap_rejects_nonpositive_gap(spark):
    import pytest as _pytest

    from meshinsights_data_pipeline_spark.operators.sessionize import (
        sessionize_by_gap,
    )

    df = spark.createDataFrame([], "u long, ts timestamp")
    with _pytest.raises(ValueError, match="positive"):
        sessionize_by_gap(df, "ts", 0, ["u"])


def test_driver_window_invariants():
    """The driver oracle-checks only the FIRST 50 of QUERIES: the
    window must hold exactly 50 unique registered names and lead the
    dict in order. _rotate_for_driver raises at import time; this pins
    the contract in CI with a readable failure."""
    from meshinsights_data_pipeline_spark.plans.queries import _DRIVER_WINDOW

    assert len(_DRIVER_WINDOW) == 50
    assert len(set(_DRIVER_WINDOW)) == 50
    assert list(QUERIES)[:50] == list(_DRIVER_WINDOW)


def test_registration_rejects_a_repeated_name():
    """QUERIES is built by one registration loop over the q, extension
    and statistics mappings: a name two mappings share raises, instead
    of the later entry silently replacing a checked query."""
    from meshinsights_data_pipeline_spark.plans.queries import _register, q01, q02

    first = {"q01": (q01, "SELECT 1")}
    with pytest.raises(ValueError, match="q01"):
        _register(first, {"q01": (q02, "SELECT 2")})
    assert list(_register(first, {"q02": (q02, "SELECT 2")})) == ["q01", "q02"]


def test_every_plans_builder_is_registered():
    """Source-only guard (no Spark): every top-level ``qNN`` / ``xNN_*``
    builder defined under ``plans/`` is a key of QUERIES, so an
    oracle-proven builder cannot sit in the package unregistered."""
    import ast
    import pathlib
    import re

    import meshinsights_data_pipeline_spark.plans as plans

    builder = re.compile(r"q\d+|x\d+_\w+")
    unregistered = [
        f"{path.name}:{node.lineno} {node.name}"
        for path in sorted(pathlib.Path(plans.__file__).parent.glob("*.py"))
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef)
        and builder.fullmatch(node.name)
        and node.name not in QUERIES
    ]
    assert unregistered == []
