"""bench.py's record logic, in pure Python: no Spark session starts.

An outside harness parses bench.py's output, so the extras names, the
methodology map and the compact line are a contract; the
self-adjudication verdict decides which timing lands in the record.
"""

from __future__ import annotations

import json
import os

import bench
from meshinsights_data_pipeline_spark.plans.queries import QUERIES

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_EXTRAS = [
    "power_pipeline_e2e", "corpus_pipeline_e2e", "events_pipeline_e2e",
    "record_linkage_e2e", "drift_monitoring_e2e", "data_quality_e2e",
    "stat_tests_e2e", "judge_eval_e2e", "sketch_profile_e2e",
    "streaming_exact_dedup_e2e", "streaming_stat_ingest_e2e",
]


def test_extras_table_names_and_order():
    names = [row.name for row in bench.EXTRAS]
    assert names == _EXTRAS
    with open(os.path.join(_ROOT, "BENCH_EXPECT.json")) as fh:
        assert set(json.load(fh)["extras"]) == set(names)


def test_extras_methodology_is_derived_from_the_rows():
    assert bench.extras_methodology() == {
        "pooled_threadpool3": [
            "data_quality_e2e", "stat_tests_e2e", "judge_eval_e2e",
            "sketch_profile_e2e",
        ],
        "parallel_batch": ["streaming_stat_ingest_e2e"],
    }
    # only the streaming rows start from a fresh checkpoint every run
    assert [r.name for r in bench.EXTRAS if r.fresh_state] == [
        "streaming_exact_dedup_e2e", "streaming_stat_ingest_e2e",
    ]


def test_short_names_are_distinct():
    assert len(QUERIES) == 212
    shorts = {bench._short(n) for n in QUERIES}
    assert len(shorts) == len(QUERIES)
    assert bench._short("x110_token_entropy") == "x110"
    assert bench._short("x11_minhash_dedup") == "x11"
    assert bench._short("q01") == "q01"


def _detail(n_queries: int = 212) -> dict:
    names = [f"x{i}_query_{i}" for i in range(n_queries)]
    timings = {n: round(0.1 + 0.037 * i, 3) for i, n in enumerate(names)}
    steps = {f"step_{i}": 1.5 + i for i in range(8)}
    return {
        "metric": "declared_query_set_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "extras": {n: 12.345 for n in _EXTRAS},
        "extras_methodology": bench.extras_methodology(),
        "corpus_steps": steps,
        "step_regressions": {"step_1": "step_1: 5.1s > 2x expected 2.5s"},
        "query_regressions": {
            names[-1]: f"{names[-1]}: 9.0s > 2x expected 4.0s"
            " [adjudicated: host-inflated (controls 1.6x)]",
        },
        "extra_regressions": {
            "judge_eval_e2e": "judge_eval_e2e: 40.0s > 2x expected 15.0s",
        },
        "adjudication": {
            names[-1]: {"verdict": "host-inflated (controls 1.6x)"},
            names[-2]: {"verdict": "cleared-by-pin"},
        },
        "sf1_slowest": {n: 23.4 for n in names[-27:]},
        "sf1_steps": {k: {"ratio": 9.8} for k in steps},
        "sf": 0.1,
    }


def test_compact_line_fits_the_budget_and_marks_truncation():
    detail = _detail()
    line = bench._compact_line(detail, [3.9, 3.8])
    assert len(line) <= 1500
    rec = json.loads(line)
    assert rec["queries_total"] == 212
    assert rec["queries_shown"] == len(rec["queries"]) < 212
    # the cutoff is the slowest query left out
    shown = sorted(detail["queries"].values(), reverse=True)
    assert rec["shown_cutoff"] == round(shown[rec["queries_shown"]], 2)
    assert min(rec["queries"].values()) >= rec["shown_cutoff"]
    for key in ("step_regressions", "query_regressions",
                "extra_regressions", "adjudication", "sf1_slowest",
                "sf1_steps"):
        assert key in rec


def test_compact_line_key_order_when_nothing_is_shed():
    detail = _detail(n_queries=5)
    for key in ("step_regressions", "query_regressions", "extra_regressions",
                "adjudication", "sf1_slowest", "sf1_steps"):
        detail[key] = {}
    rec = json.loads(bench._compact_line(detail, [4.0, 4.0]))
    assert list(rec) == [
        "metric", "value", "unit", "cores", "queries", "extras",
        "extras_pooled", "corpus_steps", "sf",
    ]
    assert rec["extras_pooled"] == sorted(
        n for ns in bench.extras_methodology().values() for n in ns
    )


def test_pin_verdict():
    # a failed pin (-1.0) never clears a flag, whatever the controls did
    assert bench._pin_verdict(-1.0, 4.0, None) == "regressed"
    assert bench._pin_verdict(-1.0, 4.0, 2.0) == "regressed"
    assert bench._pin_verdict(4.5, 4.0, None) == "cleared-by-pin"
    assert bench._pin_verdict(9.0, 4.0, None) == "regressed"
    assert bench._pin_verdict(9.0, 4.0, 1.6) == (
        "host-inflated (controls 1.6x)"
    )
    assert bench._pin_verdict(9.0, None, None) == "regressed"


def test_best_skips_failed_runs():
    assert bench._best([3.0, -1.0, 2.5]) == 2.5
    assert bench._best([-1.0, -1.0]) == -1.0
