"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload {query_mix,fleet_ingest}
        --seed N --seconds S --trace {0,1}

Run from the repository root. One process, one Spark session on
``local[<cpus this process may use>]``. The run is:

1. set-up: session start, input generation and staging, warm-up ops;
   ``setup_s`` is process start to the first timed op;
2. timed window: a fixed number of whole cycles of ops, the number that
   fills ``--seconds`` at the workload's nominal cycle time, so the op count
   and mix depend on ``--seconds`` alone, never on the machine's speed;
   after every op the persisted RDDs it left are counted and released, so
   each timed op starts from an empty cache;
3. output checks outside the window, then the result line::

       {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones. A traced run alternates untraced and traced cycles:
the per-layer numbers come from the traced cycles, and
``trace.overhead_share`` compares the two. The full record (host state,
tail percentile and n, every op) goes to ``.perfbench_out/`` in the
checkout, and a traced run also writes its spans there.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)


AGE_AT_T0 = _process_age()


def _load() -> list[float]:
    return list(os.getloadavg())


def _cpu_ticks() -> list[int]:
    """Aggregate /proc/stat cpu ticks: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU ticks between two samples that the hypervisor stole."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _vm_hwm_mb(pid: int | None) -> float | None:
    if pid is None:
        return None
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


def _stop_jvm(proc) -> None:
    """Close the JVM's stdin, which ends PySpark's gateway process, and wait
    for it (and with it Spark's Python workers) to exit."""
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _configure(work: str, trace: bool, cpus: int) -> None:
    """Launch config: every file Spark, the JVM and Python write goes under
    ``work``; the event log is on for traced runs."""
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'tmp')} ",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "events")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={json.dumps(v) if ' ' in v else v}" for k, v in conf.items()
    ) + " pyspark-shell"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")


def release(spark) -> int:
    """Unpersist everything the session holds; returns how many persisted
    RDDs there were. ``clearCache`` alone leaves ``localCheckpoint`` RDDs."""
    jsc = spark.sparkContext._jsc
    rdds = jsc.getPersistentRDDs()
    n = rdds.size()
    if n:
        spark.catalog.clearCache()
        for rdd in list(rdds.values()):
            rdd.unpersist(True)
    return n


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["query_mix", "fleet_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # Fails here, before any output, when the package is not in the checkout.
    import meshinsights_data_pipeline_spark  # noqa: F401

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        return run(args, work, out_dir, tag)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def run(args, work: str, out_dir: str, tag: str) -> int:
    from meshinsights_data_pipeline_spark import session
    from perfbench import stats, trace
    from perfbench.workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    _configure(work, bool(args.trace), cpus)
    host = {"nproc": cpus, "load_before": _load()}
    ticks = _cpu_ticks()
    ops: list[dict] = []
    phases: dict[str, float] = {"before_session_s": AGE_AT_T0 + time.perf_counter() - T0}
    spark = wl = tracer = jvm = None
    try:
        t = time.perf_counter()
        spark = session.get_spark(f"perfbench-{args.workload}")
        get_spark_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        if args.trace:
            tracer = trace.Tracer(spark.sparkContext)
            tracer.install()
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        wl.setup()
        phases["inputs_s"] = time.perf_counter() - t - get_spark_s

        def run_op(key, op, timed: bool, traced: bool) -> None:
            rec = {"id": len(ops) + 1, "key": str(key), "timed": timed, "traced": traced,
                   "rdds_at_start": release(spark)}
            if tracer:
                tracer.enabled, tracer.op = traced, rec["id"]
            rec["wall_start"] = time.time()
            a = time.perf_counter()
            try:
                with tracer.span("op") if traced else contextlib.nullcontext():
                    result = op()
                rec["latency_s"] = time.perf_counter() - a
                rec["ok"] = wl.op_ok(key, result)
                progress = wl.progress(result)
                if progress is not None:
                    rec["progress"] = {k: progress[k] for k in ("batchId", "numInputRows",
                                                                "durationMs")}
            except Exception as exc:  # an op that raises counts as failed
                rec["latency_s"] = time.perf_counter() - a
                rec["ok"], rec["error"] = False, repr(exc)[:500]
            rec["wall_end"] = time.time()
            if tracer:
                tracer.enabled = False
            rec["rdds_left"] = release(spark)
            ops.append(rec)

        for key, op in wl.warmup():
            run_op(key, op, timed=False, traced=False)
        release(spark)

        first = time.perf_counter()
        setup_s = AGE_AT_T0 + (first - T0)
        phases["warmup_s"] = first - t - get_spark_s - phases["inputs_s"]
        # A traced run alternates traced and untraced cycles, at least two
        # traced ones so that per-op job counts can be seen to repeat.
        cycles = max(3 if args.trace else 1, wl.cycles_for(args.seconds))
        for k in range(cycles):
            traced = bool(args.trace) and k % 2 == 0
            for key, op in wl.cycle(k):
                run_op(key, op, timed=True, traced=traced)
        window = time.perf_counter() - first

        t = time.perf_counter()
        final_ok = wl.final_check()
        phases["check_s"] = time.perf_counter() - t
        state_bytes = wl.state_bytes()
        host["jvm_peak_rss_mb"] = _vm_hwm_mb(jvm.pid if jvm else None)
    finally:
        t = time.perf_counter()
        try:
            if wl is not None:
                wl.close()
            if spark is not None:
                spark.stop()
        finally:
            _stop_jvm(jvm)
            phases["stop_s"] = time.perf_counter() - t
    host["load_after"] = _load()
    host["steal_share"] = _steal_share(ticks, _cpu_ticks())

    timed = [o for o in ops if o["timed"]]
    bad_keys = {str(x) for x in wl.failed_keys}
    for o in timed:
        o["ok"] = (o["ok"] and final_ok and o["rdds_at_start"] == 0
                   and o["key"] not in bad_keys)
    attempted = len(timed)
    failed = sum(1 for o in timed if not o["ok"])
    lat = [o["latency_s"] for o in timed]
    tail = stats.tail(lat)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_latency_p50_s": (statistics.median(lat), "s"),
        "op_latency_tail_s": (tail["value"], "s"),
        "ops_per_s": (attempted / window, "1/s"),
        "ok_ops_share": ((attempted - failed) / attempted, "share"),
    }
    metrics = e2e  # a traced run reports the per-layer metrics instead
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cycles": cycles, "window_s": window,
        "tail": {"percentile": tail["percentile"], "n": tail["n"]},
        "get_spark_s": get_spark_s, "phases": phases, "final_check": final_ok,
        "failed_keys": sorted(bad_keys), "host": host,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
    }
    if tracer:
        layers, jobs_per_op = trace.per_layer(
            tracer, timed, os.path.join(work, "events"), get_spark_s=get_spark_s,
            jvm_peak_rss_mb=host["jvm_peak_rss_mb"] or 0.0,
            stream_progress=[o["progress"] for o in timed if o["traced"] and "progress" in o],
            state_bytes=state_bytes)
        units = {name: unit for name, unit, *_ in trace.PER_LAYER}
        metrics = {k: (v, units[k]) for k, v in layers.items()}
        record["per_layer"] = layers
        jobs_by_key: dict[str, list[int]] = {}
        for o in timed:
            if o["id"] in jobs_per_op:
                o["jobs"] = jobs_per_op[o["id"]]
                jobs_by_key.setdefault(o["key"], []).append(o["jobs"])
        record["jobs_by_key"] = jobs_by_key
        record["jobs_repeat"] = all(len(set(v)) == 1 for v in jobs_by_key.values())
        tracer.dump(os.path.join(out_dir, f"{tag}.spans.jsonl"))
    record["ops"] = ops
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({"record": f".perfbench_out/{tag}.json", "tail": record["tail"],
                      "host": host}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
