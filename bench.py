"""Benchmark runner: executes the declared query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully executed via a noop-format write — every row and column
is produced JVM-side, nothing is collected to the driver, and the optimizer
can't prune the projection the way a count() would let it. The session is
warmed with a trivial job first so q01 doesn't absorb JVM startup.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _regressed(sec: float, exp: float) -> bool:
    """2x-of-expectation, PLUS an absolute slack: a ~100ms step or
    query carries ~100-200ms of fixed overhead (job scheduling,
    noop-write commit, GC) that varies with machine state, so a pure
    ratio test on a sub-200ms expectation measures the scheduler, not
    the plan (r13: dataset_split, an 87ms map-side projection, tripped
    the gate at 0.19s on a session running uniformly ~1.15x slower).
    The slack is far below any real regression in the >=1s band the
    gates exist for."""
    return sec > 2.0 * exp and sec - exp > 0.25


def _spin_once(dur: float) -> int:
    t_end = time.perf_counter() + dur
    n = 0
    while time.perf_counter() < t_end:
        n += 1
    return n


def _effective_cores(workers: int = 32, dur: float = 0.25) -> float:
    """Crude effective-core probe (the r13 throttle-adjudication gap):
    total busy-loop throughput of ``workers`` concurrent processes
    relative to one process. ~32 on an idle 32-vCPU host; the r13
    driver sample ran with this at ~2.7 — recording it beside every
    bench run lets a throttle-contaminated sample be adjudicated
    against data instead of prose."""
    import multiprocessing as mp

    try:
        ctx = mp.get_context("fork")
        with ctx.Pool(1) as p:
            base = p.map(_spin_once, [dur])[0]
        with ctx.Pool(workers) as p:
            multi = sum(p.map(_spin_once, [dur] * workers))
        return round(multi / base, 1) if base else -1.0
    except Exception:  # noqa: BLE001 - a probe must never kill the bench
        return -1.0


def _corpus_step_times(spark, data_dir: str) -> dict[str, float]:
    """Per-step timings of the corpus pipeline over ``data_dir``'s
    documents, materializing after every step (noop write +
    localCheckpoint barrier) so each delta is additive and attributable.
    Shared by the sf0.1 breakdown and the sf1 scaling row."""
    from pyspark.sql import functions as F

    from meshinsights_data_pipeline_spark.analytics.corpus_pipeline import (
        BENCHMARK_KEY,
        build_corpus_pipeline,
    )
    from meshinsights_data_pipeline_spark.core.context import PipelineContext
    from meshinsights_data_pipeline_spark.session import read_table

    docs = read_table(spark, data_dir, "documents")
    pipe = build_corpus_pipeline(
        contamination_threshold=0.8, quota_n=1000, chunk_tokens=64,
        span_excise_n=5,
    )
    ctx = PipelineContext(
        pipeline_name="corpus_prep_steps", correlation_id="bench",
        raw_data=docs,
    )
    ctx.processed_data[BENCHMARK_KEY] = docs.filter(F.col("source") == "src0")
    steps: dict[str, float] = {}
    for proc in pipe.processors:
        if not pipe.should_execute(proc, ctx):
            continue
        t0 = time.perf_counter()
        ctx = proc(ctx)
        out = ctx.processed_data.get("corpus.chunks", ctx.raw_data)
        out.write.format("noop").mode("overwrite").save()
        ctx.raw_data = ctx.raw_data.localCheckpoint()
        steps[proc.name] = round(time.perf_counter() - t0, 3)
    return steps


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    t_start = time.time()
    cores_start = _effective_cores()

    from meshinsights_data_pipeline_spark.session import get_spark
    from meshinsights_data_pipeline_spark.plans.queries import QUERIES

    os.environ["SPARK_GRAFT_CPUS"] = cpus
    spark = get_spark("mesh-bench")
    # Warm-up: JVM codegen, the parquet datasource, and the noop write path
    # (first use of each costs ~1-2s of one-time init that would otherwise
    # be mis-attributed to whichever query runs first).
    from meshinsights_data_pipeline_spark.session import read_table

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    read_table(spark, sf_dir, "region").write.format("noop").mode("overwrite").save()

    try:
        sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", ""))
    except ValueError:
        sf = None

    # Cold/warm split: the first execution of a query pays one-time
    # whole-stage-codegen compilation (measured 2-8x on the heavy dedup
    # queries: x11 ~12s cold vs ~2.4s steady); the second run measures the
    # engine. Headline value = warm total; cold totals kept for
    # comparability with earlier rounds.
    #
    # Two stability measures (the r6 x04/x05 "bimodality" postmortem):
    # 1. Queries run in SORTED-NAME order, not QUERIES dict order. The dict
    #    is rotated each round for the driver correctness window, which had
    #    been silently reshuffling the bench too — run-order changes what
    #    JVM/codegen/GC state each query inherits (measured: x04 first-warm
    #    3.45s after a heavy-query prefix vs 2.3s isolated, same code).
    # 2. For queries whose first warm run is slow (>= 0.5s), a third run is
    #    taken and the warm value is the MIN of the two — the first warm
    #    run of a heavy query still absorbs lingering GC/code-cache churn
    #    from its predecessors; min-of-2 pins the steady state.
    timings: dict[str, float] = {}
    timings_cold: dict[str, float] = {}
    for name in sorted(QUERIES):
        q = QUERIES[name]
        runs = []
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                df = q.spark(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                runs.append(round(time.perf_counter() - t0, 3))
        except Exception as exc:  # noqa: BLE001 - record, keep benching
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            timings[name] = -1.0
            timings_cold[name] = -1.0
            continue
        # r7 ran the stability pass only >= 1.5s and sub-second untouched
        # queries still jittered >1.7x (x06 0.46->1.15, x03 0.63->1.10) —
        # exactly the band where a real regression hides from the 2x gate.
        if runs[1] >= 0.5:
            # The stability run is OPTIONAL: a transient failure here must
            # not discard the two measurements already in hand.
            try:
                t0 = time.perf_counter()
                q.spark(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(round(time.perf_counter() - t0, 3))
            except Exception as exc:  # noqa: BLE001
                print(f"bench: {name} third run failed: {exc}", file=sys.stderr)
        timings_cold[name] = runs[0]
        timings[name] = min(runs[1:])

    # The analytics workload (GMM variance pipeline) is not SQL-expressible
    # so it is benchmarked separately from the declared query set. Extras
    # get the same cold/warm treatment as the queries: the composed
    # pipeline plans are huge, so first-run codegen dominates (corpus e2e
    # measured 27s cold vs 13s steady at sf0.1) and varies run-to-run;
    # the warm number measures the engine.
    extras: dict[str, float] = {}
    extras_cold: dict[str, float] = {}
    extras_failed: dict[str, str] = {}  # name -> error, for extras that raised
    try:
        from pyspark.sql import functions as F

        from meshinsights_data_pipeline_spark.analytics.power_pipeline import (
            run_power_analysis,
        )
        from meshinsights_data_pipeline_spark.operators.sessionize import sessionize
        from meshinsights_data_pipeline_spark.session import read_table

        ev = read_table(spark, sf_dir, "events")
        ev = ev.select(
            F.col("ts"),
            F.col("event_type").alias("tstate"),
            (F.abs(F.col("value")) * 100).alias("energy"),
            "user_id",
        )
        ev = sessionize(ev, "tstate", ["ts"], ["user_id"]).withColumnRenamed(
            "ts", "timeStamp"
        )
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            run_power_analysis(ev)
            runs.append(round(time.perf_counter() - t0, 3))
        extras_cold["power_pipeline_e2e"] = runs[0]
        extras["power_pipeline_e2e"] = runs[1]
    except Exception as exc:  # noqa: BLE001
        print(f"bench: power pipeline failed: {exc}", file=sys.stderr)
        extras_failed["power_pipeline_e2e"] = str(exc)

    # Corpus-prep Pipeline end-to-end (quality gate -> dedup -> near-dup
    # collapse -> decontamination -> PII -> quota -> split -> chunking),
    # timed to one terminal action on the chunks table.
    try:
        from pyspark.sql import functions as F

        from meshinsights_data_pipeline_spark.analytics.corpus_pipeline import (
            run_corpus_prep,
        )
        from meshinsights_data_pipeline_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        bench_slice = docs.filter(F.col("source") == "src0")
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            ctx = run_corpus_prep(
                docs, benchmark=bench_slice, contamination_threshold=0.8,
                quota_n=1000, chunk_tokens=64, span_excise_n=5,
            )
            ctx.processed_data["corpus.chunks"].write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(round(time.perf_counter() - t0, 3))
        extras_cold["corpus_pipeline_e2e"] = runs[0]
        extras["corpus_pipeline_e2e"] = runs[1]
    except Exception as exc:  # noqa: BLE001
        print(f"bench: corpus pipeline failed: {exc}", file=sys.stderr)
        extras_failed["corpus_pipeline_e2e"] = str(exc)

    # Events analytics Pipeline end-to-end (sessionize -> attribution ->
    # outliers -> time-weighted avg -> report) over the events table; the
    # report step's bounded aggregates are the terminal actions, so the
    # e2e time covers every composed frame.
    try:
        from meshinsights_data_pipeline_spark.analytics.events_pipeline import (
            build_events_pipeline,
        )
        from meshinsights_data_pipeline_spark.core.context import (
            PipelineContext,
        )
        from meshinsights_data_pipeline_spark.session import read_table

        ev_raw = read_table(spark, sf_dir, "events")
        pipe = build_events_pipeline()
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            pipe.run(PipelineContext(
                pipeline_name="events_analytics", correlation_id="bench",
                raw_data=ev_raw,
            ))
            runs.append(round(time.perf_counter() - t0, 3))
        extras_cold["events_pipeline_e2e"] = runs[0]
        extras["events_pipeline_e2e"] = runs[1]
    except Exception as exc:  # noqa: BLE001
        print(f"bench: events pipeline failed: {exc}", file=sys.stderr)
        extras_failed["events_pipeline_e2e"] = str(exc)

    # Entity-resolution end-to-end (examples/record_linkage.py composed:
    # blocked linkage -> connected components -> golden-record anti-join)
    # over the customer table — a regression inside the linkage->CC
    # composition is invisible to the per-query gates (r12 verdict #7).
    try:
        from pyspark.sql import functions as F

        from meshinsights_data_pipeline_spark.operators.components import (
            connected_components,
        )
        from meshinsights_data_pipeline_spark.operators.linkage import (
            blocked_record_linkage,
        )
        from meshinsights_data_pipeline_spark.session import read_table

        cust = read_table(spark, sf_dir, "customer")
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            pairs = blocked_record_linkage(
                cust, "c_custkey", ["c_nationkey", "c_mktsegment"],
                "c_name", "c_acctbal", numeric_scale=2000.0, threshold=0.9,
            )
            comp = connected_components(pairs, "id_a", "id_b")
            losers = comp.filter(F.col("id") != F.col("cluster_id")).select(
                F.col("id").alias("c_custkey")
            )
            cust.join(losers, "c_custkey", "left_anti").write.format(
                "noop"
            ).mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        extras_cold["record_linkage_e2e"] = runs[0]
        extras["record_linkage_e2e"] = runs[1]
    except Exception as exc:  # noqa: BLE001
        print(f"bench: record linkage e2e failed: {exc}", file=sys.stderr)
        extras_failed["record_linkage_e2e"] = str(exc)

    # Temporal drift monitoring end-to-end (examples/drift_monitoring.py's
    # core: per-user CUSUM changepoints -> alarm triage summary) — the
    # composed plan of the x104 anchor.
    try:
        from pyspark.sql import functions as F

        from meshinsights_data_pipeline_spark.operators.changepoint import (
            cusum_changepoints,
        )
        from meshinsights_data_pipeline_spark.session import read_table

        ev = read_table(spark, sf_dir, "events")
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            scored = cusum_changepoints(
                ev, "ts", ["user_id"], "value", "event_id",
                target=50.0, slack=12.0, threshold=95.0,
            )
            alarms = scored.filter(F.col("alarm_up") | F.col("alarm_down"))
            alarms.groupBy("user_id").agg(
                F.min("ts").alias("first_alarm"),
                F.sum(F.col("alarm_up").cast("int")).alias("n_up"),
                F.sum(F.col("alarm_down").cast("int")).alias("n_down"),
            ).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        extras_cold["drift_monitoring_e2e"] = runs[0]
        extras["drift_monitoring_e2e"] = runs[1]
    except Exception as exc:  # noqa: BLE001
        print(f"bench: drift monitoring e2e failed: {exc}", file=sys.stderr)
        extras_failed["drift_monitoring_e2e"] = str(exc)

    # Data-quality gate end-to-end (examples/data_quality.py's core: KS
    # drift + Benford conformance + token entropy/Gini over three
    # tables) — the composed plans of the x107/x109/x110 anchors.
    try:
        from meshinsights_data_pipeline_spark.operators.corpus import (
            source_token_entropy,
        )
        from meshinsights_data_pipeline_spark.operators.dq import (
            benford_deviation,
        )
        from meshinsights_data_pipeline_spark.operators.stats import ks_drift
        from meshinsights_data_pipeline_spark.session import read_table

        ev = read_table(spark, sf_dir, "events")
        li = read_table(spark, sf_dir, "lineitem")
        docs = read_table(spark, sf_dir, "documents")
        # r16 optimization round — same §2.6 overlap + methodology note
        # as stat_tests_e2e: three independent checks over three
        # different tables; per-operator costs stay gated by
        # x107/x109/x110.
        from concurrent.futures import ThreadPoolExecutor

        def _noop_dq(frame) -> None:
            frame.write.format("noop").mode("overwrite").save()

        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            frames = (
                ks_drift(ev, "event_type", "value"),
                benford_deviation(li, "l_returnflag", "l_extendedprice"),
                source_token_entropy(docs, "source", "text"),
            )
            with ThreadPoolExecutor(max_workers=3) as pool:
                list(pool.map(_noop_dq, frames))
            runs.append(round(time.perf_counter() - t0, 3))
        extras_cold["data_quality_e2e"] = runs[0]
        extras["data_quality_e2e"] = runs[1]
    except Exception as exc:  # noqa: BLE001
        print(f"bench: data quality e2e failed: {exc}", file=sys.stderr)
        extras_failed["data_quality_e2e"] = str(exc)

    # Statistical-tests end-to-end (the composed plans of the x116-x119
    # anchors: Welch t + chi-square independence + lag-k ACF + JS mix
    # divergence).
    try:
        from pyspark.sql import functions as F

        from meshinsights_data_pipeline_spark.operators.abtest import (
            mann_whitney_u,
            welch_ttest,
        )
        from meshinsights_data_pipeline_spark.operators.corpus import (
            source_js_divergence,
        )
        from meshinsights_data_pipeline_spark.operators.dq import (
            chi2_independence,
        )
        from meshinsights_data_pipeline_spark.operators.trend import (
            autocorrelation,
        )
        from meshinsights_data_pipeline_spark.session import read_table

        ev = read_table(spark, sf_dir, "events")
        orders = read_table(spark, sf_dir, "orders")
        docs = read_table(spark, sf_dir, "documents")
        metric = ev.select(
            F.col("event_type").alias("exp"),
            F.when(F.col("user_id") % 2 == 0, "control")
            .otherwise("t1").alias("arm"),
            F.col("value"),
        )
        # r16 optimization round — measurement-methodology note
        # (OPTIMIZATION_r16.md): the five analyses are INDEPENDENT, so
        # their actions overlap via a small thread pool (guide §2.6 —
        # the same idiom the streaming extra's parallel_batch uses;
        # serial-composition numbers live in the pre-r16 gate records).
        # Each operator's own cost stays individually gated by its
        # anchor (x116/x120/x117/x118/x119). Plans are still built
        # inside the timed region, as before.
        from concurrent.futures import ThreadPoolExecutor

        def _noop(frame) -> None:
            frame.write.format("noop").mode("overwrite").save()

        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            frames = (
                welch_ttest(metric, "exp", "arm", "value",
                            control_label="control"),
                mann_whitney_u(metric, "exp", "arm", "value",
                               control_label="control"),
                chi2_independence(orders, "o_orderstatus",
                                  "o_orderpriority"),
                autocorrelation(
                    ev.filter(F.col("user_id") < 40), "ts",
                    ["user_id"], "value", "event_id", lags=3,
                ),
                source_js_divergence(docs, "source", "text"),
            )
            with ThreadPoolExecutor(max_workers=3) as pool:
                list(pool.map(_noop, frames))
            runs.append(round(time.perf_counter() - t0, 3))
        extras_cold["stat_tests_e2e"] = runs[0]
        extras["stat_tests_e2e"] = runs[1]
    except Exception as exc:  # noqa: BLE001
        print(f"bench: stat tests e2e failed: {exc}", file=sys.stderr)
        extras_failed["stat_tests_e2e"] = str(exc)

    # Judge/classifier-evaluation end-to-end (the composed plans of the
    # x124-x130 anchors: ROC-AUC + calibration report + Cohen's kappa +
    # Cliff's delta + bootstrap CI + SPRT decisions + CUPED).
    try:
        from pyspark.sql import functions as F

        from meshinsights_data_pipeline_spark.operators.abtest import (
            cliffs_delta,
            cuped_adjusted_means,
            sprt_bernoulli,
        )
        from meshinsights_data_pipeline_spark.operators.bootstrap import (
            bootstrap_mean_ci,
        )
        from meshinsights_data_pipeline_spark.operators.mleval import (
            calibration_report,
            cohens_kappa,
            roc_auc,
        )
        from meshinsights_data_pipeline_spark.session import read_table

        ev = read_table(spark, sf_dir, "events")
        docs = read_table(spark, sf_dir, "documents")
        scored = ev.select(
            F.col("event_type"),
            (F.col("user_id") % 2 == 0).alias("label"),
            F.col("value"),
        )
        conf = ev.select(
            F.col("event_type"),
            (F.col("value").cast("double") / F.lit(100.0)).alias("score"),
            (F.col("user_id") % 3 == 0).alias("label"),
        )
        raters = docs.select(
            F.col("source"),
            F.col("lang").alias("rater_a"),
            F.when(F.col("doc_id") % 7 == 0, F.lit("xx"))
            .otherwise(F.col("lang")).alias("rater_b"),
        )
        arms = ev.select(
            F.col("event_type").alias("experiment"),
            F.when(F.col("user_id") % 2 == 0, "control")
            .otherwise("t1").alias("arm"),
            F.col("value"),
        )
        # r16 optimization round — same §2.6 overlap + methodology note
        # as stat_tests_e2e: the seven evaluations are independent, their
        # actions run through a small thread pool; per-operator costs
        # stay gated by x124-x130. Plans still build in the timed region.
        from concurrent.futures import ThreadPoolExecutor

        def _noop_je(frame) -> None:
            frame.write.format("noop").mode("overwrite").save()

        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            frames = (
                roc_auc(scored, ["event_type"], "label", "value"),
                calibration_report(
                    conf, ["event_type"], "score", "label", bins=10
                ),
                cohens_kappa(raters, ["source"], "rater_a", "rater_b"),
                cliffs_delta(arms, "experiment", "arm", "value",
                             control_label="control"),
                bootstrap_mean_ci(ev, ["event_type"], "value",
                                  "event_id", b=60),
                sprt_bernoulli(
                    arms.withColumn("conv", F.col("value") > 30),
                    "experiment", "arm", "conv", p0=0.3, p1=0.35,
                ),
                cuped_adjusted_means(
                    arms.withColumn(
                        "pre_metric",
                        F.floor(F.col("value").cast("double") / F.lit(10.0))
                        .cast("double"),
                    ),
                    "experiment", "arm", "value", "pre_metric",
                ),
            )
            with ThreadPoolExecutor(max_workers=3) as pool:
                list(pool.map(_noop_je, frames))
            runs.append(round(time.perf_counter() - t0, 3))
        extras_cold["judge_eval_e2e"] = runs[0]
        extras["judge_eval_e2e"] = runs[1]
    except Exception as exc:  # noqa: BLE001
        print(f"bench: judge eval e2e failed: {exc}", file=sys.stderr)
        extras_failed["judge_eval_e2e"] = str(exc)

    # Sketch-profile tier (r16): the constant-memory profiling pass a
    # 100 TB corpus runs instead of exact distinct/frequency/overlap —
    # HLL per-source cardinality, CMS hot-token estimates over the
    # exploded token stream, KMV pairwise source overlap — composed
    # over sf0.1 documents and gated like the other e2e extras (the
    # x131-x133 anchors cover correctness at sf0.01; this gates
    # the composed cost at the bench tier).
    try:
        from pyspark.sql import functions as F

        from meshinsights_data_pipeline_spark.operators.sketch import (
            cms_counts,
            cms_estimate,
            hll_cardinality,
            kmv_pairwise_overlap,
        )
        from meshinsights_data_pipeline_spark.operators.text import (
            normalized_text,
        )
        from meshinsights_data_pipeline_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        toks = docs.filter(
            F.col("source").isNotNull() & F.col("text").isNotNull()
        ).select(
            "source",
            F.explode(
                F.split(normalized_text(F.col("text")), " ")
            ).alias("token"),
        ).filter(F.col("token") != "")
        items = (
            toks.groupBy("token")
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .orderBy(F.col("_cnt").desc(), F.col("token").asc())
            .limit(15)
            .select("token")
        )
        # r16 optimization round — same §2.6 overlap + methodology note
        # as stat_tests_e2e: three independent sketches; correctness
        # stays covered by the x131-x133 anchors.
        from concurrent.futures import ThreadPoolExecutor

        def _noop_sk(frame) -> None:
            frame.write.format("noop").mode("overwrite").save()

        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            frames = (
                hll_cardinality(docs, ["source"], "text", p=10),
                cms_estimate(
                    cms_counts(toks, ["source"], "token",
                               depth=4, width=1024),
                    ["source"], items, "token", depth=4, width=1024,
                ),
                kmv_pairwise_overlap(docs, "source", "text", k=128),
            )
            with ThreadPoolExecutor(max_workers=3) as pool:
                list(pool.map(_noop_sk, frames))
            runs.append(round(time.perf_counter() - t0, 3))
        extras_cold["sketch_profile_e2e"] = runs[0]
        extras["sketch_profile_e2e"] = runs[1]
    except Exception as exc:  # noqa: BLE001
        print(f"bench: sketch profile e2e failed: {exc}", file=sys.stderr)
        extras_failed["sketch_profile_e2e"] = str(exc)

    # Streaming tier: bounded-stream exact dedup over the documents table
    # (one micro-batch run, availableNow) — the §2.10 throughput signal.
    # No warm pass: a fresh checkpoint per run IS the streaming cost
    # model (state rebuild + watermark bookkeeping), so cold is reported.
    try:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from meshinsights_data_pipeline_spark.session import read_table
        from meshinsights_data_pipeline_spark.streaming import (
            streaming_exact_dedup,
        )

        stage_dir = tempfile.mkdtemp(prefix="bench_stream_")
        try:
            docs = read_table(spark, sf_dir, "documents").withColumn(
                "ts",
                F.expr(
                    "timestamp'2024-01-01 00:00:00' + "
                    "make_interval(0,0,0,0,0,0,doc_id)"
                ),
            )
            src = f"{stage_dir}/src"
            docs.write.parquet(src)
            # min of TWO cold runs, each with a FRESH checkpoint: every
            # run still pays the full streaming cost model (state
            # rebuild + watermark bookkeeping — the checkpoint is never
            # reused), but the min strips the first run's one-time
            # streaming-machinery JIT and transient host contention,
            # which measured as a 2-15x swing on this extra while every
            # warm query moved <10%.
            runs = []
            for attempt in range(2):
                t0 = time.perf_counter()
                stream = spark.readStream.schema(
                    spark.read.parquet(src).schema
                ).parquet(src)
                out = streaming_exact_dedup(
                    stream, "doc_id", "text", ts_col="ts"
                )
                q = (
                    out.writeStream.outputMode("append")
                    .format("noop")
                    .option(
                        "checkpointLocation", f"{stage_dir}/ckpt{attempt}"
                    )
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination(300)
                runs.append(round(time.perf_counter() - t0, 3))
            extras_cold["streaming_exact_dedup_e2e"] = runs[0]
            extras["streaming_exact_dedup_e2e"] = min(runs)
        finally:
            shutil.rmtree(stage_dir, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001
        print(f"bench: streaming dedup failed: {exc}", file=sys.stderr)
        extras_failed["streaming_exact_dedup_e2e"] = str(exc)

    # Streaming stat-ingest tier (VERDICT r14 #7, extended r16 per
    # VERDICT r15 #5): the hashed-state JSD + entropy twins over the
    # documents stream, and over the events stream the exact-state
    # Mann-Whitney twin PLUS the four r15 judge-eval/uncertainty twins
    # (AUC, calibration, Poisson-bootstrap CI, SPRT) — all five share
    # ONE availableNow foreachBatch query, so the extra gates the full
    # streaming statistical surface's merge-state + epoch-report
    # plumbing at sf0.1 scale (the batch anchors x110/x119/x120/
    # x124/x125/x128/x129 cover the shared count stages). Same cost
    # model as the dedup extra: a fresh checkpoint per run IS the cost,
    # min-of-2 strips one-time JIT.
    try:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from meshinsights_data_pipeline_spark.session import read_table
        from meshinsights_data_pipeline_spark.sources.layout import (
            snapshot_overwrite,
        )
        from meshinsights_data_pipeline_spark.streaming import (
            parallel_batch,
            streaming_entropy_ingest,
            streaming_jsd_ingest,
            streaming_mann_whitney_ingest,
        )
        from meshinsights_data_pipeline_spark.streaming.abtest import (
            streaming_sprt_ingest,
        )
        from meshinsights_data_pipeline_spark.streaming.mleval import (
            streaming_auc_ingest,
            streaming_bootstrap_ingest,
            streaming_calibration_ingest,
        )

        stage_dir = tempfile.mkdtemp(prefix="bench_statstream_")
        try:
            docs = read_table(spark, sf_dir, "documents")
            # one event frame feeds all five event-side twins: the MW
            # arms, the x124 AUC labeling, the x125 score/100 framing,
            # the x128 bootstrap id surface, and the SPRT conversions
            ev = read_table(spark, sf_dir, "events").select(
                F.col("event_type").alias("experiment"),
                F.when(F.col("user_id") % 2 == 0, "control")
                .otherwise("t1").alias("arm"),
                F.col("value"),
                F.col("event_id"),
                (F.col("user_id") % 2 == 0).alias("label"),
                (F.col("value").cast("double") / F.lit(100.0)).alias(
                    "score"
                ),
                (F.col("user_id") % 3 == 0).alias("converted"),
            )
            dsrc, esrc = f"{stage_dir}/docs", f"{stage_dir}/events"
            docs.write.parquet(dsrc)
            ev.write.parquet(esrc)
            runs = []
            for attempt in range(2):
                root = f"{stage_dir}/run{attempt}"
                t0 = time.perf_counter()
                # seed the seven state dirs concurrently (independent
                # tiny writes; same §2.6 overlap as the twin execution)
                seed_schemas = {
                    "jsd_state": "source string, _tok long, _c long",
                    "ent_state": "source string, _tok long, _c long",
                    "mw_state": (
                        "experiment string, arm string, _v double, _c long"
                    ),
                    "auc_state": (
                        "experiment string, _v double, _pos long, _neg long"
                    ),
                    "cal_state": (
                        "experiment string, _b int, _n long, _np long,"
                        " _ssum decimal(38,12), _rsum decimal(38,12)"
                    ),
                    "bs_state": (
                        "experiment string, _b int, _s decimal(38,12),"
                        " _n_w long, _rows long"
                    ),
                    "sprt_state": (
                        "experiment string, arm string, n long, x long"
                    ),
                }
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=7) as seed_pool:
                    list(seed_pool.map(
                        lambda kv: snapshot_overwrite(
                            spark.createDataFrame([], kv[1]),
                            f"{root}/{kv[0]}", -1,
                        ),
                        seed_schemas.items(),
                    ))
                jsd_proc = streaming_jsd_ingest(
                    docs, counts_dir=f"{root}/jsd_state",
                    report_dir=f"{root}/jsd_report",
                )
                ent_proc = streaming_entropy_ingest(
                    docs, counts_dir=f"{root}/ent_state",
                    report_dir=f"{root}/ent_report",
                )

                # r16 optimization round — measurement-methodology note
                # (OPTIMIZATION_r16.md): the independent twins sharing one
                # micro-batch now run through streaming.parallel_batch
                # (overlapped job chains over disjoint state dirs, the
                # guide's §2.6 idiom) instead of back-to-back calls. The
                # same seven twins compute the same state and reports;
                # serial-composition numbers live in BENCH_r15.json /
                # the pre-r16 BENCH_GATE_LOG records.
                qd = (
                    spark.readStream.schema(
                        spark.read.parquet(dsrc).schema
                    ).parquet(dsrc)
                    .writeStream.foreachBatch(
                        parallel_batch(jsd_proc, ent_proc)
                    )
                    .option("checkpointLocation", f"{root}/ckpt_docs")
                    .trigger(availableNow=True)
                    .start()
                )
                qd.awaitTermination(300)
                mw_proc = streaming_mann_whitney_ingest(
                    ev, cells_dir=f"{root}/mw_state",
                    report_dir=f"{root}/mw_report",
                )
                auc_proc = streaming_auc_ingest(
                    ev, "experiment", "label", "value",
                    cells_dir=f"{root}/auc_state",
                    report_dir=f"{root}/auc_report",
                )
                cal_proc = streaming_calibration_ingest(
                    ev, "experiment", "score", "converted", bins=10,
                    state_dir=f"{root}/cal_state",
                    report_dir=f"{root}/cal_report",
                )
                bs_proc = streaming_bootstrap_ingest(
                    ev, "experiment", "value", "event_id", b=60,
                    state_dir=f"{root}/bs_state",
                    report_dir=f"{root}/bs_report",
                )
                sprt_proc = streaming_sprt_ingest(
                    ev, "experiment", "arm", "converted",
                    p0=0.30, p1=0.36,
                    cells_dir=f"{root}/sprt_state",
                    report_dir=f"{root}/sprt_report",
                )

                qe = (
                    spark.readStream.schema(
                        spark.read.parquet(esrc).schema
                    ).parquet(esrc)
                    .writeStream.foreachBatch(
                        parallel_batch(
                            mw_proc, auc_proc, cal_proc, bs_proc, sprt_proc
                        )
                    )
                    .option("checkpointLocation", f"{root}/ckpt_events")
                    .trigger(availableNow=True)
                    .start()
                )
                qe.awaitTermination(300)
                runs.append(round(time.perf_counter() - t0, 3))
            extras_cold["streaming_stat_ingest_e2e"] = runs[0]
            extras["streaming_stat_ingest_e2e"] = min(runs)
        finally:
            shutil.rmtree(stage_dir, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001
        print(f"bench: streaming stat ingest failed: {exc}", file=sys.stderr)
        extras_failed["streaming_stat_ingest_e2e"] = str(exc)

    # Per-step breakdown of the corpus pipeline (same config as the e2e
    # run). The e2e number times ONE fused plan — Catalyst collapses the
    # steps, which is the production execution and stays the headline.
    # This pass instead materializes after every step (noop write +
    # localCheckpoint barrier, so step N+1 starts from N's materialized
    # output and each delta is additive and attributable). The barrier
    # overhead means the step sum is expected to EXCEED the fused e2e
    # time; the value of the breakdown is the per-step ratio, not the sum.
    corpus_steps: dict[str, float] = {}
    try:
        corpus_steps = _corpus_step_times(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        print(f"bench: corpus step breakdown failed: {exc}", file=sys.stderr)

    # Regression gates: compare this run's corpus_steps AND warm query
    # timings against the checked-in expectations (BENCH_EXPECT.json,
    # written from a verified run). Anything >2x its recorded value is
    # flagged — the x26-in-r5 story (a silently-doubled step inside a
    # green pipeline) fails fast. Query expectations cover the slow band
    # (>= ~1.5s at r7); sub-second queries are guarded by the min-of-two
    # stability rule instead.
    step_regressions: dict[str, str] = {}
    query_regressions: dict[str, str] = {}
    extra_regressions: dict[str, str] = {}
    expect_all: dict = {}
    try:
        expect_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_EXPECT.json"
        )
        if os.path.exists(expect_path):
            with open(expect_path) as fh:
                expect_all = json.load(fh)

            for step, sec in corpus_steps.items():
                exp = expect_all.get("corpus_steps", {}).get(step)
                if exp and _regressed(sec, exp):
                    step_regressions[step] = (
                        f"{step}: {sec}s > 2x expected {exp}s"
                    )
            for qname, sec in timings.items():
                exp = expect_all.get("queries", {}).get(qname)
                if exp and _regressed(sec, exp):
                    query_regressions[qname] = (
                        f"{qname}: {sec}s > 2x expected {exp}s"
                    )
            # composed-pipeline e2e extras get the same 2x gate — a
            # regression inside a fused pipeline plan is invisible to the
            # per-query gates (the x26-in-r5 lesson, applied to e2e).
            for ename, sec in extras.items():
                exp = expect_all.get("extras", {}).get(ename)
                if exp and _regressed(sec, exp):
                    extra_regressions[ename] = (
                        f"{ename}: {sec}s > 2x expected {exp}s"
                    )
            for msg in (*step_regressions.values(),
                        *query_regressions.values(),
                        *extra_regressions.values()):
                print(f"bench: REGRESSION: {msg}", file=sys.stderr)
    except Exception as exc:  # noqa: BLE001 - the gate must not kill the bench
        print(f"bench: regression gate failed: {exc}", file=sys.stderr)

    # Self-adjudication (VERDICT r14 #2/#4): the r14 driver sample's
    # q27-q42 band showed 2.7-5.1x its gate values from a transient host
    # stall during that band's contiguous execution, and the record
    # could only be adjudicated after the fact by hand. So: any query
    # that trips its expectation gate, OR runs >2x (+0.25s) its value in
    # the previous committed full-run gate record at the same sf, is
    # re-run INTERLEAVED with two at-expectation controls
    # (x09_lang_id / q67, the PERF_NOTES_r14 pin pair) and the pins land
    # in this run's own gate-log record. If the pin no longer trips the
    # gate, the flag was transient and is cleared; if the controls
    # inflated comparably, the flag is annotated host-inflated — the
    # committed record adjudicates itself.
    adjudication: dict[str, dict] = {}
    try:
        suspects = set(query_regressions)
        prev_queries: dict[str, float] = {}
        gate_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_GATE_LOG.jsonl",
        )
        eligible: list = []
        if os.path.exists(gate_path):
            with open(gate_path) as fh:
                for ln in fh:
                    try:
                        rec = json.loads(ln)
                    except ValueError:
                        continue
                    # full runs only (pins/partial runs have few queries),
                    # same sf only (a sf0.01 smoke run is not a baseline)
                    if len(rec.get("queries", {})) < 150 or (
                        rec.get("sf") != sf
                    ):
                        continue
                    # ADVICE r15: a committed run that was ITSELF
                    # host-throttled (its own adjudication saw controls
                    # >=1.5x) must not become the baseline — an inflated
                    # baseline desensitizes the >2x-previous detection
                    # for the following run.
                    adj = rec.get("adjudication", {}) or {}
                    if any(
                        isinstance(a, dict)
                        and (a.get("control_inflation") or 0) >= 1.5
                        for a in adj.values()
                    ):
                        continue
                    eligible.append(rec["queries"])
        # per-query min over the last 3 eligible full runs: the
        # steady-state cost, robust to one run's partial stall
        for recq in eligible[-3:]:
            for n, v in recq.items():
                if isinstance(v, (int, float)) and (
                    n not in prev_queries or v < prev_queries[n]
                ):
                    prev_queries[n] = v
        for qname, sec in timings.items():
            p = prev_queries.get(qname)
            if p and p > 0 and sec > 2.0 * p and sec - p > 0.25:
                suspects.add(qname)
        ctrl_factor = None
        if suspects:
            controls = [
                c for c in ("x09_lang_id", "q67")
                if c in QUERIES and c not in suspects
            ]
            # bound the adjudication wall time: worst offenders first
            ranked = sorted(
                suspects, key=lambda n: -timings.get(n, 0.0)
            )[:12]
            if len(ranked) < len(suspects):
                print(
                    f"bench: adjudicating only the {len(ranked)} slowest "
                    f"of {len(suspects)} suspects",
                    file=sys.stderr,
                )
            pin_runs: dict[str, list[float]] = {
                n: [] for n in [*ranked, *controls]
            }
            for _ in range(2):
                for n in [*ranked, *controls]:  # interleaved, not banded
                    t0 = time.perf_counter()
                    QUERIES[n].spark(spark, sf_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    pin_runs[n].append(
                        round(time.perf_counter() - t0, 3)
                    )
            pins = {n: min(v) for n, v in pin_runs.items()}
            ctrl_infl = []
            for c in controls:
                base = (
                    expect_all.get("queries", {}).get(c)
                    or prev_queries.get(c)
                    or timings.get(c)
                )
                if base and base > 0:
                    ctrl_infl.append(pins[c] / base)
            ctrl_factor = (
                round(sorted(ctrl_infl)[len(ctrl_infl) // 2], 2)
                if ctrl_infl else None
            )
            for n in ranked:
                exp = expect_all.get("queries", {}).get(n)
                base = exp or prev_queries.get(n)
                if base and not _regressed(pins[n], base):
                    verdict = "cleared-by-pin"
                    query_regressions.pop(n, None)
                elif ctrl_factor is not None and ctrl_factor >= 1.5:
                    verdict = f"host-inflated (controls {ctrl_factor}x)"
                else:
                    verdict = "regressed"
                adjudication[n] = {
                    "sample": timings.get(n),
                    "pin": pins[n],
                    "expect": exp,
                    "prev_committed": prev_queries.get(n),
                    "controls": {c: pins[c] for c in controls},
                    "control_inflation": ctrl_factor,
                    "verdict": verdict,
                }
                if n in query_regressions and verdict != "regressed":
                    query_regressions[n] += f" [adjudicated: {verdict}]"
                print(
                    f"bench: ADJUDICATION {n}: sample {timings.get(n)}s, "
                    f"pin {pins[n]}s, controls x{ctrl_factor} -> {verdict}",
                    file=sys.stderr,
                )
                # VERDICT r15 #2 (the x23-at-36.6s lesson): when the
                # in-run adjudication refutes the sample, the headline
                # record must carry the PIN, not the stall survivor —
                # the raw sample stays in adjudication["sample"] above,
                # so the committed record keeps both values and the
                # parsed compact queries dict self-corrects.
                if verdict != "regressed":
                    timings[n] = pins[n]
        # Extras are composed pipelines too expensive to re-run
        # interleaved, but they inflate with the same host factor the
        # query pins measure — annotate flagged extras with the control
        # inflation so a throttled record self-documents (the
        # judge_eval_e2e-at-40s case: flagged during a stall, controls
        # at 1.4x, every constituent query individually green).
        if extra_regressions and ctrl_factor is not None and (
            ctrl_factor >= 1.5
        ):
            for ename in list(extra_regressions):
                extra_regressions[ename] += (
                    f" [controls ran {ctrl_factor}x their expectations"
                    f" in the same session - likely host-inflated]"
                )
    except Exception as exc:  # noqa: BLE001 - must not kill the bench
        print(f"bench: self-adjudication failed: {exc}", file=sys.stderr)

    # sf1 scaling row: run the 10 slowest queries (by this run's warm
    # timings) against a 10x-scaled dataset, turning the "would this plan
    # survive 10x?" audit into a measured curve — sf1_ratio ~10 is linear
    # in data (ideal for scan-bound work), >>10 means a superlinear
    # shuffle/pair blowup that 100 TB would amplify. The scaled tables are
    # derived from sf0.1 with content perturbed per copy (alphabet-rotated
    # text, rotated embeddings, shifted keys) so self-join/dedup queries
    # see realistic density instead of a 10-identical-copies pair
    # explosion. Cached under /tmp across runs; disable: SPARK_GRAFT_SF1=0.
    sf1_timings: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0" and abs((sf or 0) - 0.1) < 1e-9:
        try:
            from bench_sf1 import ensure_sf1, run_sf1

            # every query at >=1.0s warm (not just the top 10): r9's top-10
            # cutoff left a 1.2-1.8s band (x46/x07/x29/q47/x52) with no 10x
            # measurement, exactly where a superlinear surprise could hide;
            # r10's 18-query cap cut off at 1.47s, leaving the 1.2-1.45s
            # band (x33/x10/x39/q47/x53/x55/x77/x37) unmeasured — VERDICT
            # r10 item 8 widened the band floor and cap.
            # Floor of 10, cap of 26 to bound the row's wall time.
            by_time = [
                n for n, _ in sorted(timings.items(), key=lambda kv: -kv[1])
                if timings[n] >= 0
            ]
            n_band = sum(1 for n in by_time if timings[n] >= 1.0)
            slowest = by_time[: max(10, min(n_band, 26))]
            # x12's scaling claim (auto-bits LSH ~linear in N) is graded
            # by its measured ratio — always include it in the sf1 row
            if "x12_embedding_neardup_lsh" not in slowest:
                slowest.append("x12_embedding_neardup_lsh")
            sf1_dir = ensure_sf1(spark, sf_dir)
            sf1_timings = run_sf1(spark, QUERIES, slowest, sf1_dir)
        except Exception as exc:  # noqa: BLE001
            print(f"bench: sf1 scaling row failed: {exc}", file=sys.stderr)

    # The declared x12 now runs auto-bits itself (bits derived from the
    # exact corpus count, mirrored in the oracle); this row keeps the
    # direct operator-level measurement for continuity with r8's
    # BENCH_DETAIL numbers.
    sf1_autobits: dict[str, float] = {}
    if sf1_timings:
        try:
            from meshinsights_data_pipeline_spark.operators.similarity import (
                embedding_neardup_pairs_lsh,
            )
            from meshinsights_data_pipeline_spark.session import read_table

            def _autobits_sec(d: str) -> float:
                emb = read_table(spark, d, "embeddings")
                runs = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    embedding_neardup_pairs_lsh(
                        emb, threshold=0.4, bits=4, tables=4, seed=7,
                        target_bucket_rows=64,
                    ).write.format("noop").mode("overwrite").save()
                    runs.append(round(time.perf_counter() - t0, 3))
                return min(runs[1:]) if len(runs) > 1 else runs[0]

            base = _autobits_sec(sf_dir)
            scaled = _autobits_sec(sf1_dir)
            sf1_autobits = {
                "sf01_sec": base,
                "sf1_sec": scaled,
                "ratio": round(scaled / base, 1) if base > 0 else -1.0,
            }
        except Exception as exc:  # noqa: BLE001
            print(f"bench: sf1 autobits row failed: {exc}", file=sys.stderr)

    # 10x curve for the corpus-pipeline STEPS (neardup_collapse is the
    # most expensive step and its scaling was unmeasured until r9): the
    # same per-step barriered loop over the sf1 documents; ratio ~10 is
    # linear in data, >>10 is the x12 treatment trigger.
    sf1_steps: dict[str, dict[str, float]] = {}
    if sf1_timings and corpus_steps:
        try:
            scaled_steps = _corpus_step_times(spark, sf1_dir)
            sf1_steps = {
                name: {
                    "sf01_sec": corpus_steps[name],
                    "sf1_sec": sec,
                    "ratio": round(sec / corpus_steps[name], 1)
                    if corpus_steps[name] > 0 else -1.0,
                }
                for name, sec in scaled_steps.items()
                if name in corpus_steps
            }
        except Exception as exc:  # noqa: BLE001
            print(f"bench: sf1 step scaling failed: {exc}", file=sys.stderr)

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    total_cold = round(sum(t for t in timings_cold.values() if t >= 0), 3)
    # The driver captures only the LAST ~2000 chars of stdout and parses the
    # final JSON line from that tail (round 3's line, with cold+warm dicts for
    # 70 queries, overflowed it and parsed as null). So: full detail goes to
    # BENCH_DETAIL.json + the committed BENCH_GATE_LOG.jsonl, and the LAST
    # line is a compact headline kept safely under the tail budget.
    # VERDICT r16 "What's wrong" #1: the pooled extras changed meaning
    # mid-series in r16; every record now carries an explicit
    # methodology map so no consumer can compare pooled vs serial
    # silently. Names not listed are serial compositions.
    extras_methodology = {
        "pooled_threadpool3": [
            "data_quality_e2e", "stat_tests_e2e", "judge_eval_e2e",
            "sketch_profile_e2e",
        ],
        "parallel_batch": ["streaming_stat_ingest_e2e"],
    }
    # Every tagged name must be an extra that ran or one recorded as failed,
    # so a renamed or dropped extra cannot leave a stale tag in the record.
    untagged = sorted(
        {n for ns in extras_methodology.values() for n in ns}
        - extras.keys() - extras_failed.keys()
    )
    assert not untagged, f"extras_methodology names no extra: {untagged}"
    detail = {
        "metric": "declared_query_set_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": timings_cold,
        "value_cold": total_cold,
        "extras": extras,
        "extras_cold": extras_cold,
        "extras_methodology": extras_methodology,
        "extras_failed": extras_failed,
        "corpus_steps": corpus_steps,
        "step_regressions": step_regressions,
        "query_regressions": query_regressions,
        "extra_regressions": extra_regressions,
        "adjudication": adjudication,
        "sf1_slowest": sf1_timings,
        "sf1_autobits_neardup": sf1_autobits,
        "sf1_steps": sf1_steps,
        "sf1_ratio": {
            n: round(t / timings[n], 1)
            for n, t in sf1_timings.items()
            if timings.get(n, 0) > 0 and t >= 0
        },
        "sf": sf,
    }
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json"), "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass

    # Committed gate artifact (VERDICT r13 #1): every bench invocation
    # appends its FULL per-query record — with a timestamp and
    # effective-core probes taken before and after the run — to
    # BENCH_GATE_LOG.jsonl at the repo root. A throttle-contaminated
    # driver sample can then be adjudicated against committed data
    # (which run saw how many effective cores, query by query) instead
    # of an expectations-file comment, the r13 adjudication gap.
    gate = {
        "ts_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(t_start)),
        "tag": os.environ.get("SPARK_GRAFT_GATE_TAG", ""),
        "wall_sec": round(time.time() - t_start, 1),
        "effective_cores_start": cores_start,
        "effective_cores_end": _effective_cores(),
        **detail,
    }
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_GATE_LOG.jsonl"), "a") as fh:
            fh.write(json.dumps(gate, separators=(",", ":")) + "\n")
    except OSError:
        pass

    def _short(name: str) -> str:
        # Compact-line keys only: extension queries collapse to their
        # FULL numeric prefix ("x26_dedup_clusters_star" -> "x26",
        # "x110_token_entropy" -> "x110") to keep the one-line JSON
        # inside the driver's ~2000-char stdout tail. The prefix must
        # be the whole digit run: the earlier fixed name[:3] collided
        # three-digit queries with two-digit ones (x110/x114 -> "x11",
        # overwriting x11's value in the committed compact record).
        # Full names always live in BENCH_DETAIL.json.
        if name[0] == "x" and name[1:2].isdigit():
            i = 1
            while i < len(name) and name[i].isdigit():
                i += 1
            return name[:i]
        return name

    compact = {
        "metric": "declared_query_set_total",
        "value": total,
        "unit": "sec",
        "cores": [
            gate["effective_cores_start"], gate["effective_cores_end"]
        ],
        "queries": {_short(k): round(v, 2) for k, v in timings.items()},
        "extras": {k: round(v, 2) for k, v in extras.items()},
        # pooled/overlapped extras by SHORT tag (full map in the gate
        # record) — the r16 methodology-seam disclosure, in-band
        "extras_pooled": sorted(
            n for ns in extras_methodology.values() for n in ns
        ),
        "corpus_steps": {k: round(v, 2) for k, v in corpus_steps.items()},
        "sf": sf,
    }
    if step_regressions:
        compact["step_regressions"] = step_regressions
    if query_regressions:
        compact["query_regressions"] = query_regressions
    if extra_regressions:
        compact["extra_regressions"] = extra_regressions
    if adjudication:
        compact["adjudication"] = {
            _short(k): v["verdict"] for k, v in adjudication.items()
        }
    if sf1_timings:
        compact["sf1_slowest"] = {
            _short(k): round(v, 1) for k, v in sf1_timings.items()
        }
    if sf1_steps:
        compact["sf1_steps"] = {
            k: v["ratio"] for k, v in sf1_steps.items()
        }
    # Budget 1500 chars, not the driver's full ~2000: the tail window
    # may be combined with trailing stderr/log noise, and the whole
    # compact line must sit INSIDE it (the r13 tail started mid-JSON —
    # the parsed block survived, but the record was not a clean line).
    # Shed order: corpus_steps, extras, then per-query times shrink to
    # the slowest-N that fit (with explicit queries_shown/_total
    # markers — no silent truncation; full detail is always in
    # BENCH_DETAIL.json + BENCH_GATE_LOG.jsonl).
    _BUDGET = 1500
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > _BUDGET:
        compact.pop("corpus_steps", None)
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > _BUDGET:
        compact.pop("extras", None)
        compact.pop("extras_pooled", None)
        line = json.dumps(compact, separators=(",", ":"))
    n_show = 60
    by_desc = sorted(timings.items(), key=lambda kv: -kv[1])
    while len(line) > _BUDGET and n_show >= 10:
        compact["queries"] = {
            _short(k): round(v, 2) for k, v in by_desc[:n_show]
        }
        compact["queries_shown"] = min(n_show, len(timings))
        compact["queries_total"] = len(timings)
        # VERDICT r16 "What's wrong" #2: a query absent from a
        # truncated compact record is NOT dropped — it ran faster than
        # this cutoff (the slowest unshown timing). Full per-query
        # dicts are always in BENCH_DETAIL.json + BENCH_GATE_LOG.jsonl.
        if len(timings) > n_show:
            compact["shown_cutoff"] = round(by_desc[n_show][1], 2)
        line = json.dumps(compact, separators=(",", ":"))
        n_show -= 10
    print(line)


if __name__ == "__main__":
    main()
