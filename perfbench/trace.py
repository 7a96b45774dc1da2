"""Traced-run instrumentation: spans, per-span Spark job groups, event-log
byte counts, and the per-layer summary.

Only ``--trace 1`` runs install anything. ``Tracer.install`` wraps public
entry points where their callers bound them (``plans/queries.py`` and its
siblings import ``read_table`` by name, so every package module that holds
the original function gets the wrapper). Untraced runs call the package
exactly as a user would.

Each span records its name, start, end, parent span and op id, and runs
under its own Spark job group, so ``statusTracker()`` attributes jobs,
stages and tasks to the innermost span ("self" counts). Shuffle and spill
bytes are read after the session stops from Spark's event log, whose
stage-submitted events carry the same job group. Spans stay in memory and
are written out at exit.
"""

from __future__ import annotations

import dataclasses
import functools
import itertools
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

STEPS = (
    "filter_valid_cycles",
    "classify_variance_raw",
    "identify_issues",
    "curate_stage_data",
    "classify_variance_curated",
    "calculate_thresholds",
    "ai_classification",
)

_GROUP_PREFIX = "perfbench-span-"

# Every per-layer metric: (name, unit, better, end-to-end metric it should
# move, workloads where it should move). BENCHMARK.json lists the same
# names and units; a traced run reports all of them on every workload (0
# where the layer does no work).
_E2E_LAT = "op_latency_p50_s, ops_per_s"
PER_LAYER: list[tuple[str, str, str, str, str]] = [
    ("session.get_spark_s", "s", "lower", "setup_s", "all"),
    ("session.read_table_calls", "count", "lower", _E2E_LAT, "query_mix"),
    ("session.read_table_s", "s", "lower", _E2E_LAT, "query_mix"),
    ("session.read_table_jobs", "count", "lower", _E2E_LAT, "query_mix"),
    ("plans.build_s", "s", "lower", "op_latency_tail_s, ops_per_s", "query_mix"),
    ("plans.build_jobs", "count", "lower", "op_latency_tail_s, ops_per_s", "query_mix"),
    ("plans.build_stages", "count", "lower", "op_latency_tail_s, ops_per_s", "query_mix"),
    ("operators.action_s", "s", "lower", _E2E_LAT, "query_mix, fleet_ingest"),
    ("operators.action_jobs", "count", "lower", _E2E_LAT, "query_mix, fleet_ingest"),
    ("operators.action_stages", "count", "lower", _E2E_LAT, "query_mix, fleet_ingest"),
    ("operators.action_tasks", "count", "lower", _E2E_LAT, "query_mix, fleet_ingest"),
    ("operators.shuffle_write_bytes", "bytes", "lower", _E2E_LAT, "query_mix, fleet_ingest"),
    ("operators.spill_bytes", "bytes", "lower", _E2E_LAT, "query_mix, fleet_ingest"),
    ("core.pipeline_run_s", "s", "lower", "op_latency_p50_s", "fleet_ingest"),
    *[(f"core.step_s.{s}", "s", "lower", "op_latency_p50_s", "fleet_ingest") for s in STEPS],
    *[(f"core.step_jobs.{s}", "count", "lower", "op_latency_p50_s", "fleet_ingest")
      for s in STEPS],
    ("core.steps_skipped", "count", "higher", "op_latency_p50_s", "fleet_ingest"),
    ("analytics.variance_groups", "count", "lower", "op_latency_p50_s", "fleet_ingest"),
    ("genai.ai_steps_run", "count", "lower", "op_latency_p50_s", "fleet_ingest"),
    ("streaming.trigger_s", "s", "lower", _E2E_LAT, "fleet_ingest"),
    ("streaming.add_batch_s", "s", "lower", _E2E_LAT, "fleet_ingest"),
    ("streaming.query_planning_s", "s", "lower", _E2E_LAT, "fleet_ingest"),
    ("streaming.wal_commit_s", "s", "lower", _E2E_LAT, "fleet_ingest"),
    ("streaming.input_rows", "count", "higher", _E2E_LAT, "fleet_ingest"),
    ("sources.snapshot_write_s", "s", "lower", "op_latency_p50_s, setup_s", "fleet_ingest"),
    ("sources.epoch_append_s", "s", "lower", "op_latency_p50_s, setup_s", "fleet_ingest"),
    ("sources.state_bytes", "bytes", "lower", "op_latency_p50_s, setup_s", "fleet_ingest"),
    ("sources.bytes_written_per_input_byte", "ratio", "lower", "op_latency_p50_s, setup_s",
     "fleet_ingest"),
    ("cache.persisted_rdds_left", "count", "lower", "none (released after every op)",
     "fleet_ingest, query_mix"),
    ("host.jvm_peak_rss_mb", "MB", "lower", "none (context only)", "all"),
    ("trace.overhead_share", "share", "lower", "none (context only)", "all"),
]


class Tracer:
    """In-memory span recorder. ``enabled`` toggles recording per cycle so
    a traced run can interleave untraced cycles and measure its own
    overhead; the shims stay installed either way."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.op: int | None = None
        self.spans: list[dict] = []
        self.extra: dict[str, list[tuple[int | None, float]]] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = next(self._ids)
        group = f"{_GROUP_PREFIX}{sid}"
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "op": self.op,
            "group": group,
            "start": time.perf_counter(),
            "wall_start": time.time(),
        }
        self.sc.setJobGroup(group, name)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            stack.pop()
            rec.update(self._job_counts(group))
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)

    def _job_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            jobs += 1
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def note(self, key: str, value: float) -> None:
        """Record a per-op scalar that is not a span (e.g. bytes)."""
        if self.enabled:
            with self._lock:
                self.extra.setdefault(key, []).append((self.op, float(value)))

    # -- shims -----------------------------------------------------------

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def shim(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return shim

    def install(self) -> None:
        from meshinsights_data_pipeline_spark import session
        from meshinsights_data_pipeline_spark.core.pipeline import Pipeline
        from meshinsights_data_pipeline_spark.core.processor import Processor
        from meshinsights_data_pipeline_spark.plans.queries import QUERIES
        from meshinsights_data_pipeline_spark.sources import layout

        _rebind(session.read_table, self.wrap(session.read_table, "session.read_table"))
        for name, q in list(QUERIES.items()):
            QUERIES[name] = dataclasses.replace(
                q, spark=self.wrap(q.spark, f"plans.build:{name}"))

        run = Pipeline.run

        def pipeline_run(pipe, context):
            with self.span("core.pipeline_run") as rec:
                out = run(pipe, context)
                if rec is not None:
                    rec["skipped"] = sum(
                        1 for e in out.execution_log if e.get("skipped"))
                    rec["variance_groups"] = _variance_groups(out)
                return out

        call = Processor.__call__

        def step(proc, context):
            with self.span(f"core.step:{proc.name}"):
                return call(proc, context)

        Pipeline.run = pipeline_run
        Processor.__call__ = step

        def snapshot_overwrite(df, path, version, *a, _f=layout.snapshot_overwrite, **k):
            with self.span("sources.snapshot_overwrite"):
                _f(df, path, version, *a, **k)
            self.note("sources.snapshot_bytes", du(f"{path}/_v={int(version)}"))

        def epoch_append(df, path, epoch_id, _f=layout.idempotent_epoch_append):
            with self.span("sources.epoch_append"):
                _f(df, path, epoch_id)
            self.note("sources.append_bytes", du(f"{path}/_epoch={int(epoch_id)}"))

        _rebind(layout.snapshot_overwrite, snapshot_overwrite)
        _rebind(layout.idempotent_epoch_append, epoch_append)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                fh.write(json.dumps(rec) + "\n")


def _rebind(original, replacement) -> None:
    """Replace ``original`` in every loaded package module that bound it."""
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("meshinsights_data_pipeline_spark") or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)


def _variance_groups(context) -> list[int]:
    """Stage groups per ``applyInPandas`` variance call: every stage on the
    raw pass, the curatable stages on the curated re-check."""
    groups = [len(context.variance_analysis)] if context.variance_analysis else []
    curated = context.stages.get("curate_stage_data", {}).get("curatable_stages")
    if curated:
        groups.append(len(curated))
    return groups


def du(path: str) -> int:
    """Bytes in the files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """Job records ``{group, submitted}`` and stage records ``{group,
    submitted, completed, tasks, shuffle_write, spill}`` from the (single)
    application event log in ``log_dir``. Times are epoch seconds."""
    jobs: list[dict] = []
    stages: dict[int, dict] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append({"group": props.get("spark.jobGroup.id"),
                                 "submitted": ev.get("Submission Time", 0) / 1000.0})
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    props = ev.get("Properties") or {}
                    stages[info["Stage ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submitted": info.get("Submission Time", 0) / 1000.0,
                        "completed": None, "tasks": 0,
                        "shuffle_write": 0, "spill": 0,
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.get(info["Stage ID"])
                    if st is not None:
                        st["completed"] = info.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    if st is None:
                        continue
                    st["tasks"] += 1
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    return jobs, list(stages.values())


# ---------------------------------------------------------------------------
# Per-layer summary
# ---------------------------------------------------------------------------

def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_seconds(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it that child spans cover."""
    covered = _union_seconds([(c["start"], c["end"]) for c in children])
    return (span["end"] - span["start"]) - covered


def attribute(rec: dict, by_group: dict[str, dict], ops: list[dict]):
    """``(op id, span)`` that ran an event-log job or stage. Work under a
    span's job group belongs to the span's op; work with no group (a
    streaming query's own thread) to the op whose window it was submitted
    in."""
    span = by_group.get(rec["group"]) if rec["group"] else None
    if span is not None:
        return span["op"], span
    if rec["group"] is None:
        for o in ops:
            if o["wall_start"] <= rec["submitted"] <= o["wall_end"]:
                return o["id"], None
    return None, None


def summarize(tracer: Tracer, ops: list[dict], jobs: list[dict],
              stages: list[dict]) -> dict[str, float]:
    """Per-op means of the span-derived per-layer metrics over the traced
    ops (``id``, ``wall_start``, ``wall_end``); ``jobs`` and ``stages``
    come from ``read_event_log``."""
    op_ids = {o["id"] for o in ops}
    n = max(len(op_ids), 1)
    spans = [s for s in tracer.spans if s["op"] in op_ids]
    by_group = {s["group"]: s for s in tracer.spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def layer(prefix: str) -> list[dict]:
        return [s for s in spans if s["name"].startswith(prefix)]

    def total(items, key) -> float:
        return sum(s[key] for s in items) / n

    def self_total(items) -> float:
        return sum(self_seconds(s, children.get(s["id"], [])) for s in items) / n

    out: dict[str, float] = {}
    reads = layer("session.read_table")
    out["session.read_table_calls"] = len(reads) / n
    out["session.read_table_s"] = self_total(reads)
    out["session.read_table_jobs"] = total(reads, "jobs")
    builds = layer("plans.build:")
    out["plans.build_s"] = self_total(builds)
    out["plans.build_jobs"] = total(builds, "jobs")
    out["plans.build_stages"] = total(builds, "stages")

    # Operators: every job an op ran outside plan building and table reads.
    excluded = ("session.read_table", "plans.build:")

    def is_action(rec: dict) -> bool:
        op, span = attribute(rec, by_group, ops)
        return op in op_ids and not (span and span["name"].startswith(excluded))

    action = [st for st in stages if is_action(st)]
    out["operators.action_s"] = _union_seconds(
        [(s["submitted"], s["completed"]) for s in action if s["completed"]]) / n
    out["operators.action_jobs"] = sum(1 for j in jobs if is_action(j)) / n
    out["operators.action_stages"] = len(action) / n
    out["operators.action_tasks"] = sum(s["tasks"] for s in action) / n
    out["operators.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in action) / n
    out["operators.spill_bytes"] = sum(s["spill"] for s in action) / n

    runs = layer("core.pipeline_run")
    out["core.pipeline_run_s"] = sum(s["end"] - s["start"] for s in runs) / n
    for step in STEPS:
        mine = layer(f"core.step:{step}")
        out[f"core.step_s.{step}"] = sum(s["end"] - s["start"] for s in mine) / n
        out[f"core.step_jobs.{step}"] = total(mine, "jobs")
    out["core.steps_skipped"] = total(runs, "skipped") if runs else 0.0
    groups = [g for s in runs for g in s["variance_groups"]]
    out["analytics.variance_groups"] = sum(groups) / len(groups) if groups else 0.0
    out["genai.ai_steps_run"] = len(layer("core.step:ai_classification")) / n

    snaps = layer("sources.snapshot_overwrite")
    appends = layer("sources.epoch_append")
    out["sources.snapshot_write_s"] = sum(s["end"] - s["start"] for s in snaps) / n
    out["sources.epoch_append_s"] = sum(s["end"] - s["start"] for s in appends) / n
    return out


def overhead_share(ops: list[dict]) -> float:
    """Traced vs untraced cost of the same ops: the sum over op keys of the
    median traced latency, over the same sum untraced, minus one."""
    by_key: dict[str, tuple[list, list]] = {}
    for o in ops:
        by_key.setdefault(o["key"], ([], []))[o["traced"]].append(o["latency_s"])
    pairs = [(statistics.median(t), statistics.median(u))
             for u, t in by_key.values() if u and t]
    if not pairs:
        return 0.0
    return sum(t for t, _ in pairs) / sum(u for _, u in pairs) - 1.0


def per_layer(tracer: Tracer, timed: list[dict], event_log_dir: str, *, get_spark_s: float,
              jvm_peak_rss_mb: float, stream_progress: list[dict],
              state_bytes: int) -> tuple[dict[str, float], dict[int, int]]:
    """Every ``PER_LAYER`` metric for a traced run whose session has stopped,
    and the number of Spark jobs each traced op ran."""
    traced = [o for o in timed if o["traced"]]
    jobs, stages = read_event_log(event_log_dir)
    by_group = {s["group"]: s for s in tracer.spans}
    jobs_per_op = {o["id"]: 0 for o in traced}
    for j in jobs:
        op, _span = attribute(j, by_group, traced)
        if op in jobs_per_op:
            jobs_per_op[op] += 1
    out = {name: 0.0 for name, *_ in PER_LAYER}
    out.update(summarize(tracer, traced, jobs, stages))
    out["session.get_spark_s"] = get_spark_s
    ids = {o["id"] for o in traced}
    if stream_progress:
        p = len(stream_progress)
        dur = lambda k: sum(x["durationMs"].get(k, 0) for x in stream_progress) / 1000.0 / p  # noqa: E731
        out["streaming.trigger_s"] = dur("triggerExecution")
        out["streaming.add_batch_s"] = dur("addBatch")
        out["streaming.query_planning_s"] = dur("queryPlanning")
        out["streaming.wal_commit_s"] = dur("walCommit")
        out["streaming.input_rows"] = sum(x["numInputRows"] for x in stream_progress) / p
    notes = {k: sum(v for op, v in vals if op in ids) for k, vals in tracer.extra.items()}
    written = notes.get("sources.snapshot_bytes", 0.0) + notes.get("sources.append_bytes", 0.0)
    if notes.get("sources.input_bytes"):
        out["sources.bytes_written_per_input_byte"] = written / notes["sources.input_bytes"]
    out["sources.state_bytes"] = float(state_bytes)
    out["cache.persisted_rdds_left"] = sum(o["rdds_left"] for o in timed) / max(len(timed), 1)
    out["host.jvm_peak_rss_mb"] = jvm_peak_rss_mb
    out["trace.overhead_share"] = overhead_share(timed)
    return out, jobs_per_op
