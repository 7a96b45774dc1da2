"""The benchmark's own tests (not part of the package's test suite).

    python3 -m pytest perfbench -q

The smoke runs start one Spark session per workload and trace mode, 40 to
90 s each.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.stats import tail
from perfbench.trace import PER_LAYER, self_seconds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def test_query_tables_are_deterministic_per_seed():
    a, b, c = (gen.query_tables(s, 0.001) for s in (7, 7, 8))
    assert a.keys() == c.keys()
    for name in a:
        assert a[name].equals(b[name]), name
        assert a[name].schema == c[name].schema, name
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_fleet_is_deterministic_per_seed():
    (t1, d1), (t2, d2), (t3, d3) = (gen.fleet(s) for s in (7, 7, 8))
    assert t1.equals(t2) and [d.kinds for d in d1] == [d.kinds for d in d2]
    assert not t1.equals(t3)
    # the planted behaviours are the same on every seed, only their
    # stage names and values move
    assert [sorted(d.kinds.values()) for d in d1] == [sorted(d.kinds.values()) for d in d3]


def test_fleet_cycles_alternate_stage():
    table, _ = gen.fleet(3)
    df = table.to_pandas()
    for _dev, rows in df.groupby("device_id"):
        states = rows.sort_values("timeStamp")["tstate"].tolist()
        runs = sum(1 for i, s in enumerate(states) if i == 0 or s != states[i - 1])
        assert runs >= 50  # every planted cycle is its own sessionize cycle


def test_fleet_first_device_exceeds_the_raw_variance_cap():
    """The first device's low, bimodal and dispersed stages each exceed the
    raw variance step's 5000-row cap, so the cap does work; the device has
    about a fifth of a device-quarter of minute rows (about 26k)."""
    table, devices = gen.fleet(3)
    df = table.to_pandas()
    rows = df[df["device_id"] == 0]
    assert 22_000 <= len(rows) <= 30_000
    sizes = rows.groupby("tstate").size()
    for stage, kind in devices[0].kinds.items():
        assert (sizes[stage] > 5000) == (kind in ("low", "bimodal", "dispersed"))


def test_tail_rule_picks_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 41)]
    t = tail(xs)
    assert t == {"value": 30.0, "percentile": 75, "n": 40}
    assert sum(1 for x in xs if x > t["value"]) == 10
    assert tail([float(i) for i in range(100)])["percentile"] == 90
    few = tail([3.0, 1.0, 2.0])
    assert few == {"value": 2.0, "percentile": 50, "n": 3}


def test_self_time_subtracts_covered_child_time():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0}, {"start": 8.0, "end": 9.0}]
    assert self_seconds(parent, kids) == pytest.approx(6.0)


def test_benchmark_json_lists_every_per_layer_metric():
    declared = [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]]
    assert declared == [(n, u, b) for n, u, b, *_ in PER_LAYER]
    assert [w["name"] for w in BENCH["workloads"]] == ["query_mix", "fleet_ingest"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["query_mix", "fleet_ingest"])
def test_smoke_run_prints_declared_metrics(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in declared}
    if not trace:
        assert result["metrics"]["ok_ops_share"]["value"] == 1.0
