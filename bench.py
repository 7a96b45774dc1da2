"""Benchmark runner: executes the declared query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully executed via a noop-format write — every row and column
is produced JVM-side, nothing is collected to the driver, and the optimizer
can't prune the projection the way a count() would let it. The session is
warmed with a trivial job first so q01 doesn't absorb JVM startup.

Every timing goes through two helpers: ``_noop_seconds`` times one build
plus its noop write, and ``_interleaved`` runs named builds round-robin.
The per-query pass, the composed-pipeline extras (one ``EXTRAS`` table),
the self-adjudication pins, the sf1 row and ``tools_minibench.py`` all
call them, so a timing means the same thing in every tool that reports it.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Callable, NamedTuple

from pyspark.sql import functions as F

from bench_sf1 import DIMS, SCALED, ensure_sf1
from meshinsights_data_pipeline_spark.analytics.corpus_pipeline import (
    BENCHMARK_KEY,
    build_corpus_pipeline,
    run_corpus_prep,
)
from meshinsights_data_pipeline_spark.analytics.events_pipeline import (
    build_events_pipeline,
)
from meshinsights_data_pipeline_spark.analytics.power_pipeline import (
    run_power_analysis,
)
from meshinsights_data_pipeline_spark.core.context import PipelineContext
from meshinsights_data_pipeline_spark.operators.abtest import (
    cliffs_delta,
    cuped_adjusted_means,
    mann_whitney_u,
    sprt_bernoulli,
    welch_ttest,
)
from meshinsights_data_pipeline_spark.operators.bootstrap import (
    bootstrap_mean_ci,
)
from meshinsights_data_pipeline_spark.operators.changepoint import (
    cusum_changepoints,
)
from meshinsights_data_pipeline_spark.operators.components import (
    connected_components,
)
from meshinsights_data_pipeline_spark.operators.corpus import (
    source_js_divergence,
    source_token_entropy,
)
from meshinsights_data_pipeline_spark.operators.dq import (
    benford_deviation,
    chi2_independence,
)
from meshinsights_data_pipeline_spark.operators.linkage import (
    blocked_record_linkage,
)
from meshinsights_data_pipeline_spark.operators.mleval import (
    calibration_report,
    cohens_kappa,
    roc_auc,
)
from meshinsights_data_pipeline_spark.operators.sessionize import sessionize
from meshinsights_data_pipeline_spark.operators.similarity import (
    embedding_neardup_pairs_lsh,
)
from meshinsights_data_pipeline_spark.operators.sketch import (
    cms_counts,
    cms_estimate,
    hll_cardinality,
    kmv_pairwise_overlap,
)
from meshinsights_data_pipeline_spark.operators.stats import ks_drift
from meshinsights_data_pipeline_spark.operators.text import normalized_text
from meshinsights_data_pipeline_spark.operators.trend import autocorrelation
from meshinsights_data_pipeline_spark.plans.queries import QUERIES
from meshinsights_data_pipeline_spark.session import get_spark, read_table
from meshinsights_data_pipeline_spark.sources.layout import snapshot_overwrite
from meshinsights_data_pipeline_spark.streaming import (
    parallel_batch,
    streaming_auc_ingest,
    streaming_bootstrap_ingest,
    streaming_calibration_ingest,
    streaming_entropy_ingest,
    streaming_exact_dedup,
    streaming_jsd_ingest,
    streaming_mann_whitney_ingest,
    streaming_sprt_ingest,
)


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


def _pin_verdict(pin: float, base: float | None,
                 ctrl_factor: float | None) -> str:
    """Self-adjudication verdict for a flagged query from its interleaved
    pin. A failed pin (-1.0) proves nothing, so it never clears a flag."""
    if pin < 0:
        return "regressed"
    if base and not _regressed(pin, base):
        return "cleared-by-pin"
    if ctrl_factor is not None and ctrl_factor >= 1.5:
        return f"host-inflated (controls {ctrl_factor}x)"
    return "regressed"


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


# ---------------------------------------------------------------------------
# The timing helpers
# ---------------------------------------------------------------------------


def _noop(frame) -> None:
    frame.write.format("noop").mode("overwrite").save()


def _warm_up(spark, sf_dir: str) -> None:
    """JVM codegen, the parquet datasource and the noop write path: the
    first use of each costs ~1-2s of one-time init that would otherwise
    be mis-attributed to whichever timed build runs first."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    _noop(read_table(spark, sf_dir, "region"))


def _noop_seconds(spark, build: Callable) -> float:
    """Wall seconds of ``build(spark)`` plus a noop write of what it
    returns, so plan building and execution are both timed. A tuple holds
    independent frames, written through a 3-thread pool so their actions
    overlap (the ``pooled_threadpool3`` methodology); ``None``
    means the build ran its own actions (a pipeline, a streaming query)."""
    t0 = time.perf_counter()
    out = build(spark)
    if isinstance(out, tuple):
        with ThreadPoolExecutor(max_workers=3) as pool:
            list(pool.map(_noop, out))
    elif out is not None:
        _noop(out)
    return round(time.perf_counter() - t0, 3)


def _interleaved(spark, builds: dict[str, Callable],
                 rounds: int) -> dict[str, list[float]]:
    """``rounds`` passes over ``builds``, each timed by ``_noop_seconds``:
    interleaved, not banded, so a transient host stall spreads over every
    name instead of landing on one, and no run rides the previous run's
    still-warm shuffle files. A run that raises is recorded as -1.0 and
    the others go on."""
    runs: dict[str, list[float]] = {n: [] for n in builds}
    for _ in range(rounds):
        for name, build in builds.items():
            try:
                runs[name].append(_noop_seconds(spark, build))
            except Exception as exc:  # noqa: BLE001 - record, keep benching
                print(f"bench: {name} failed: {exc}", file=sys.stderr)
                runs[name].append(-1.0)
    return runs


def _best(runs: list[float]) -> float:
    """Min over the runs that succeeded; -1.0 when every run failed."""
    return min((r for r in runs if r >= 0), default=-1.0)


def _query_build(query, sf_dir: str) -> Callable:
    return lambda spark: query.spark(spark, sf_dir)


# ---------------------------------------------------------------------------
# Extras: composed pipelines timed end to end, one row each
# ---------------------------------------------------------------------------

POOLED = "pooled_threadpool3"
PARALLEL_BATCH = "parallel_batch"


class Extra(NamedTuple):
    """One composed-pipeline extra.

    ``stage(spark, sf_dir)`` is a context manager: it reads (and, for a
    streaming row, stages to a temp dir it owns) the inputs outside the
    timed region and yields the timed ``build(spark)``. ``methodology``
    names how independent parts overlap (``POOLED``: the build returns a
    tuple of frames; ``PARALLEL_BATCH``: twins share one micro-batch
    through ``streaming.parallel_batch``); untagged rows are serial
    compositions. A ``fresh_state`` row starts from a fresh checkpoint
    every run (state rebuild + watermark bookkeeping IS the streaming cost
    model, so no run is warm): its value is the min of its two runs.
    """

    name: str
    stage: Callable
    methodology: str | None = None
    fresh_state: bool = False


@contextmanager
def _power_pipeline(spark, sf_dir):
    # The analytics workload (GMM variance pipeline) is not SQL-expressible,
    # so it is benchmarked apart from the declared query set.
    ev = read_table(spark, sf_dir, "events").select(
        F.col("ts"),
        F.col("event_type").alias("tstate"),
        (F.abs(F.col("value")) * 100).alias("energy"),
        "user_id",
    )
    ev = sessionize(ev, "tstate", ["ts"], ["user_id"]).withColumnRenamed(
        "ts", "timeStamp"
    )

    def build(_spark):
        run_power_analysis(ev)

    yield build


@contextmanager
def _corpus_pipeline(spark, sf_dir):
    # quality gate -> dedup -> near-dup collapse -> decontamination -> PII
    # -> quota -> split -> chunking, timed to one action on the chunks.
    docs = read_table(spark, sf_dir, "documents")
    bench_slice = docs.filter(F.col("source") == "src0")
    yield lambda _spark: run_corpus_prep(
        docs, benchmark=bench_slice, contamination_threshold=0.8,
        quota_n=1000, chunk_tokens=64, span_excise_n=5,
    ).processed_data["corpus.chunks"]


@contextmanager
def _events_pipeline(spark, sf_dir):
    # sessionize -> attribution -> outliers -> time-weighted avg -> report;
    # the report step's bounded aggregates are the terminal actions, so
    # the time covers every composed frame.
    ev = read_table(spark, sf_dir, "events")
    pipe = build_events_pipeline()

    def build(_spark):
        pipe.run(PipelineContext(
            pipeline_name="events_analytics", correlation_id="bench",
            raw_data=ev,
        ))

    yield build


@contextmanager
def _record_linkage(spark, sf_dir):
    # examples/record_linkage.py composed: blocked linkage -> connected
    # components -> golden-record anti-join. A regression inside the
    # linkage->CC composition is invisible to the per-query gates.
    cust = read_table(spark, sf_dir, "customer")

    def build(_spark):
        pairs = blocked_record_linkage(
            cust, "c_custkey", ["c_nationkey", "c_mktsegment"],
            "c_name", "c_acctbal", numeric_scale=2000.0, threshold=0.9,
        )
        comp = connected_components(pairs, "id_a", "id_b")
        losers = comp.filter(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias("c_custkey")
        )
        return cust.join(losers, "c_custkey", "left_anti")

    yield build


@contextmanager
def _drift_monitoring(spark, sf_dir):
    # examples/drift_monitoring.py's core: per-user CUSUM changepoints ->
    # alarm triage summary (the composed plan of the x104 anchor).
    ev = read_table(spark, sf_dir, "events")

    def build(_spark):
        scored = cusum_changepoints(
            ev, "ts", ["user_id"], "value", "event_id",
            target=50.0, slack=12.0, threshold=95.0,
        )
        alarms = scored.filter(F.col("alarm_up") | F.col("alarm_down"))
        return alarms.groupBy("user_id").agg(
            F.min("ts").alias("first_alarm"),
            F.sum(F.col("alarm_up").cast("int")).alias("n_up"),
            F.sum(F.col("alarm_down").cast("int")).alias("n_down"),
        )

    yield build


# The POOLED rows compose INDEPENDENT analyses, so their actions overlap
# through _noop_seconds' thread pool (as PARALLEL_BATCH overlaps the
# stat-ingest twins); each operator's own cost stays gated by its anchor
# query, and plans still build inside the timed region. Serial-composition
# numbers live in BENCH_r15.json and the pre-r16 gate records.


@contextmanager
def _data_quality(spark, sf_dir):
    # examples/data_quality.py's core: KS drift + Benford conformance +
    # token entropy over three tables (anchors x107/x109/x110).
    ev = read_table(spark, sf_dir, "events")
    li = read_table(spark, sf_dir, "lineitem")
    docs = read_table(spark, sf_dir, "documents")
    yield lambda _spark: (
        ks_drift(ev, "event_type", "value"),
        benford_deviation(li, "l_returnflag", "l_extendedprice"),
        source_token_entropy(docs, "source", "text"),
    )


@contextmanager
def _stat_tests(spark, sf_dir):
    # Welch t + Mann-Whitney + chi-square independence + lag-k ACF + JS
    # mix divergence (anchors x116/x120/x117/x118/x119).
    ev = read_table(spark, sf_dir, "events")
    orders = read_table(spark, sf_dir, "orders")
    docs = read_table(spark, sf_dir, "documents")
    metric = ev.select(
        F.col("event_type").alias("exp"),
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("t1").alias("arm"),
        F.col("value"),
    )
    yield lambda _spark: (
        welch_ttest(metric, "exp", "arm", "value", control_label="control"),
        mann_whitney_u(metric, "exp", "arm", "value",
                       control_label="control"),
        chi2_independence(orders, "o_orderstatus", "o_orderpriority"),
        autocorrelation(
            ev.filter(F.col("user_id") < 40), "ts",
            ["user_id"], "value", "event_id", lags=3,
        ),
        source_js_divergence(docs, "source", "text"),
    )


@contextmanager
def _judge_eval(spark, sf_dir):
    # ROC-AUC + calibration report + Cohen's kappa + Cliff's delta +
    # bootstrap CI + SPRT decisions + CUPED (anchors x124-x130).
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
    yield lambda _spark: (
        roc_auc(scored, ["event_type"], "label", "value"),
        calibration_report(conf, ["event_type"], "score", "label", bins=10),
        cohens_kappa(raters, ["source"], "rater_a", "rater_b"),
        cliffs_delta(arms, "experiment", "arm", "value",
                     control_label="control"),
        bootstrap_mean_ci(ev, ["event_type"], "value", "event_id", b=60),
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


@contextmanager
def _sketch_profile(spark, sf_dir):
    # The constant-memory profiling pass a 100 TB corpus runs instead of
    # exact distinct/frequency/overlap: HLL per-source cardinality, CMS
    # hot-token estimates over the exploded token stream, KMV pairwise
    # source overlap (correctness: the x131-x133 anchors at sf0.01).
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.filter(
        F.col("source").isNotNull() & F.col("text").isNotNull()
    ).select(
        "source",
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("token"),
    ).filter(F.col("token") != "")
    items = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .orderBy(F.col("_cnt").desc(), F.col("token").asc())
        .limit(15)
        .select("token")
    )
    yield lambda _spark: (
        hll_cardinality(docs, ["source"], "text", p=10),
        cms_estimate(
            cms_counts(toks, ["source"], "token", depth=4, width=1024),
            ["source"], items, "token", depth=4, width=1024,
        ),
        kmv_pairwise_overlap(docs, "source", "text", k=128),
    )


def _file_stream(spark, path: str):
    return spark.readStream.schema(spark.read.parquet(path).schema).parquet(
        path
    )


def _drain(writer, checkpoint: str) -> None:
    """One availableNow run of a streaming query over everything staged."""
    writer.option("checkpointLocation", checkpoint).trigger(
        availableNow=True
    ).start().awaitTermination(300)


@contextmanager
def _streaming_exact_dedup(spark, sf_dir):
    # Bounded-stream exact dedup over the documents table (one micro-batch
    # run, availableNow): the §2.10 throughput signal.
    with tempfile.TemporaryDirectory(
        prefix="bench_stream_", ignore_cleanup_errors=True
    ) as stage:
        src = f"{stage}/src"
        read_table(spark, sf_dir, "documents").withColumn(
            "ts",
            F.expr(
                "timestamp'2024-01-01 00:00:00' + "
                "make_interval(0,0,0,0,0,0,doc_id)"
            ),
        ).write.parquet(src)
        attempt = itertools.count()

        def build(spark):
            out = streaming_exact_dedup(
                _file_stream(spark, src), "doc_id", "text", ts_col="ts"
            )
            _drain(out.writeStream.outputMode("append").format("noop"),
                   f"{stage}/ckpt{next(attempt)}")

        yield build


# Empty state of the seven stat-ingest twins, seeded fresh every run.
_STAT_STATES = {
    "jsd_state": "source string, _tok long, _c long",
    "ent_state": "source string, _tok long, _c long",
    "mw_state": "experiment string, arm string, _v double, _c long",
    "auc_state": "experiment string, _v double, _pos long, _neg long",
    "cal_state": (
        "experiment string, _b int, _n long, _np long,"
        " _ssum decimal(38,12), _rsum decimal(38,12)"
    ),
    "bs_state": (
        "experiment string, _b int, _s decimal(38,12), _n_w long, _rows long"
    ),
    "sprt_state": "experiment string, arm string, n long, x long",
}


@contextmanager
def _streaming_stat_ingest(spark, sf_dir):
    # The hashed-state JSD + entropy twins over the documents stream, and
    # over the events stream the Mann-Whitney, AUC, calibration,
    # Poisson-bootstrap and SPRT twins: the streaming statistical surface's
    # merge-state + epoch-report plumbing at bench scale (the batch anchors
    # x110/x119/x120/x124/x125/x128/x129 cover the shared count stages).
    with tempfile.TemporaryDirectory(
        prefix="bench_statstream_", ignore_cleanup_errors=True
    ) as stage:
        docs = read_table(spark, sf_dir, "documents")
        # one event frame feeds all five event-side twins: the MW arms,
        # the x124 AUC labeling, the x125 score/100 framing, the x128
        # bootstrap id surface, and the SPRT conversions
        ev = read_table(spark, sf_dir, "events").select(
            F.col("event_type").alias("experiment"),
            F.when(F.col("user_id") % 2 == 0, "control")
            .otherwise("t1").alias("arm"),
            F.col("value"),
            F.col("event_id"),
            (F.col("user_id") % 2 == 0).alias("label"),
            (F.col("value").cast("double") / F.lit(100.0)).alias("score"),
            (F.col("user_id") % 3 == 0).alias("converted"),
        )
        dsrc, esrc = f"{stage}/docs", f"{stage}/events"
        docs.write.parquet(dsrc)
        ev.write.parquet(esrc)
        attempt = itertools.count()

        def build(spark):
            root = f"{stage}/run{next(attempt)}"
            # independent tiny writes: same overlap as the twins
            with ThreadPoolExecutor(max_workers=7) as seed_pool:
                list(seed_pool.map(
                    lambda kv: snapshot_overwrite(
                        spark.createDataFrame([], kv[1]),
                        f"{root}/{kv[0]}", -1,
                    ),
                    _STAT_STATES.items(),
                ))
            docs_batch = parallel_batch(
                streaming_jsd_ingest(
                    docs, counts_dir=f"{root}/jsd_state",
                    report_dir=f"{root}/jsd_report",
                ),
                streaming_entropy_ingest(
                    docs, counts_dir=f"{root}/ent_state",
                    report_dir=f"{root}/ent_report",
                ),
            )
            _drain(_file_stream(spark, dsrc).writeStream.foreachBatch(
                docs_batch
            ), f"{root}/ckpt_docs")
            events_batch = parallel_batch(
                streaming_mann_whitney_ingest(
                    ev, cells_dir=f"{root}/mw_state",
                    report_dir=f"{root}/mw_report",
                ),
                streaming_auc_ingest(
                    ev, "experiment", "label", "value",
                    cells_dir=f"{root}/auc_state",
                    report_dir=f"{root}/auc_report",
                ),
                streaming_calibration_ingest(
                    ev, "experiment", "score", "converted", bins=10,
                    state_dir=f"{root}/cal_state",
                    report_dir=f"{root}/cal_report",
                ),
                streaming_bootstrap_ingest(
                    ev, "experiment", "value", "event_id", b=60,
                    state_dir=f"{root}/bs_state",
                    report_dir=f"{root}/bs_report",
                ),
                streaming_sprt_ingest(
                    ev, "experiment", "arm", "converted",
                    p0=0.30, p1=0.36,
                    cells_dir=f"{root}/sprt_state",
                    report_dir=f"{root}/sprt_report",
                ),
            )
            _drain(_file_stream(spark, esrc).writeStream.foreachBatch(
                events_batch
            ), f"{root}/ckpt_events")

        yield build


EXTRAS = (
    Extra("power_pipeline_e2e", _power_pipeline),
    Extra("corpus_pipeline_e2e", _corpus_pipeline),
    Extra("events_pipeline_e2e", _events_pipeline),
    Extra("record_linkage_e2e", _record_linkage),
    Extra("drift_monitoring_e2e", _drift_monitoring),
    Extra("data_quality_e2e", _data_quality, POOLED),
    Extra("stat_tests_e2e", _stat_tests, POOLED),
    Extra("judge_eval_e2e", _judge_eval, POOLED),
    Extra("sketch_profile_e2e", _sketch_profile, POOLED),
    Extra("streaming_exact_dedup_e2e", _streaming_exact_dedup,
          fresh_state=True),
    Extra("streaming_stat_ingest_e2e", _streaming_stat_ingest,
          PARALLEL_BATCH, fresh_state=True),
)


def extras_methodology(rows=EXTRAS) -> dict[str, list[str]]:
    """Methodology tag -> the extras measured that way. Every record
    carries it, so no consumer compares pooled and serial numbers
    silently (the pooled extras changed meaning mid-series in r16)."""
    tags: dict[str, list[str]] = {}
    for row in rows:
        if row.methodology:
            tags.setdefault(row.methodology, []).append(row.name)
    return tags


def _run_extras(spark, sf_dir: str):
    """Two timed runs of every extra. Like the queries, the first run is
    the cold value (the composed plans are huge, so first-run codegen
    dominates: corpus e2e measured 27s cold vs 13s steady at sf0.1) and
    the second is the warm value, except for a ``fresh_state`` row (see
    ``Extra``): the min strips the first run's one-time streaming JIT and
    transient host contention, measured as a 2-15x swing while every warm
    query moved <10%. A row that raises lands in the failed map."""
    extras: dict[str, float] = {}
    extras_cold: dict[str, float] = {}
    failed: dict[str, str] = {}
    for row in EXTRAS:
        try:
            with row.stage(spark, sf_dir) as build:
                runs = [_noop_seconds(spark, build) for _ in range(2)]
        except Exception as exc:  # noqa: BLE001 - record, keep benching
            print(f"bench: {row.name} failed: {exc}", file=sys.stderr)
            failed[row.name] = str(exc)
            continue
        extras_cold[row.name] = runs[0]
        extras[row.name] = min(runs) if row.fresh_state else runs[1]
    return extras, extras_cold, failed


# ---------------------------------------------------------------------------
# Corpus steps and the sf1 scaling row
# ---------------------------------------------------------------------------


def _corpus_step_times(spark, data_dir: str) -> dict[str, float]:
    """Per-step timings of the corpus pipeline over ``data_dir``'s
    documents, materializing after every step (noop write +
    localCheckpoint barrier) so each delta is additive and attributable.
    Shared by the sf0.1 breakdown and the sf1 scaling row."""
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
        _noop(ctx.processed_data.get("corpus.chunks", ctx.raw_data))
        ctx.raw_data = ctx.raw_data.localCheckpoint()
        steps[proc.name] = round(time.perf_counter() - t0, 3)
    return steps


def run_sf1(spark, queries, names: list[str], sf1_dir: str) -> dict[str, float]:
    """Min of TWO timed noop-write runs per query at sf1 — the same
    steady-state discipline as the warm sf0.1 pass, so the published
    ratio measures the PLAN on 10x data, not first-run state. A query
    whose runs all fail reads -1.0.

    The tables are page-cache-warmed first: without this, whichever
    query the roster happens to order FIRST pays the whole dataset's
    cold read and shows a phantom 2x — the r11 'x26 sf1 doubled' and
    r12 'x23 sf1 doubled' moves were exactly this, flipping with the
    roster order, not plan regressions. One full scan per table makes
    every ratio measure compute, matching the warm sf0.1 numerator.

    The second timed pass exists because a query's FIRST sf1 run can
    carry a one-time codegen surcharge — AQE picks different physical
    plans at 10x data, so the sf0.1 warm pass's compiled code doesn't
    apply (x23 min-label CC: first sf1 run 10.0s, steady-state 4.6s;
    x26 star: 8.9 first vs 4.2 steady — the r12 verdict's two-figures
    discrepancy). That surcharge is JVM work, constant in data size —
    noise at a real 10x/100x scale step — so min-of-2 is the honest
    scaling figure (r12 verdict #3). Runs as two full passes (pass 1
    warms every roster plan, pass 2 is steady) rather than
    back-to-back per query, so pass 2 can't ride pass 1's still-warm
    executor-local shuffle files for the same stage boundaries."""
    for t in (*SCALED, *DIMS):
        try:
            _noop(read_table(spark, sf1_dir, t))
        except Exception as exc:  # noqa: BLE001 - warm-up must not kill bench
            print(f"bench: sf1 warm-up {t} failed: {exc}", file=sys.stderr)
    runs = _interleaved(
        spark, {n: _query_build(queries[n], sf1_dir) for n in names}, rounds=2
    )
    return {n: _best(v) for n, v in runs.items()}


def _sf1_rows(spark, queries, sf_dir: str, timings: dict[str, float],
              corpus_steps: dict[str, float]):
    """The sf1 scaling row: the slowest queries (by this run's warm
    timings) against a 10x-scaled dataset, turning the "would this plan
    survive 10x?" audit into a measured curve — sf1_ratio ~10 is linear
    in data (ideal for scan-bound work), >>10 means a superlinear
    shuffle/pair blowup that 100 TB would amplify. The scaled tables are
    derived from ``sf_dir`` by ``bench_sf1.ensure_sf1``. Returns the
    (queries, autobits, corpus steps) rows; a part that fails stays empty.
    """
    sf1_timings: dict[str, float] = {}
    sf1_autobits: dict[str, float] = {}
    sf1_steps: dict[str, dict[str, float]] = {}
    try:
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
        sf1_timings = run_sf1(spark, queries, slowest, sf1_dir)
    except Exception as exc:  # noqa: BLE001
        print(f"bench: sf1 scaling row failed: {exc}", file=sys.stderr)
        return sf1_timings, sf1_autobits, sf1_steps

    # The declared x12 runs auto-bits itself (bits derived from the exact
    # corpus count, mirrored in the oracle); this row keeps the direct
    # operator-level measurement for continuity with r8's BENCH_DETAIL.
    def _autobits_sec(d: str) -> float:
        emb = read_table(spark, d, "embeddings")

        def build(_spark):
            return embedding_neardup_pairs_lsh(
                emb, threshold=0.4, bits=4, tables=4, seed=7,
                target_bucket_rows=64,
            )

        _noop_seconds(spark, build)  # cold
        return _noop_seconds(spark, build)

    try:
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
    # most expensive step): the same per-step barriered loop over the sf1
    # documents; ratio ~10 is linear in data, >>10 is the x12 trigger.
    if corpus_steps:
        try:
            sf1_steps = {
                name: {
                    "sf01_sec": corpus_steps[name],
                    "sf1_sec": sec,
                    "ratio": round(sec / corpus_steps[name], 1)
                    if corpus_steps[name] > 0 else -1.0,
                }
                for name, sec in _corpus_step_times(spark, sf1_dir).items()
                if name in corpus_steps
            }
        except Exception as exc:  # noqa: BLE001
            print(f"bench: sf1 step scaling failed: {exc}", file=sys.stderr)
    return sf1_timings, sf1_autobits, sf1_steps


# ---------------------------------------------------------------------------
# The record
# ---------------------------------------------------------------------------


def _short(name: str) -> str:
    # Compact-line keys only: extension queries collapse to their
    # FULL numeric prefix ("x26_dedup_clusters_star" -> "x26",
    # "x110_token_entropy" -> "x110") to keep the one-line JSON
    # inside the ~2000-char stdout tail the harness reads. The prefix must
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


def _compact_line(detail: dict, cores: list) -> str:
    """The last stdout line. The harness captures only the LAST ~2000
    chars of stdout and parses the final JSON line from that tail (round
    3's line, with cold+warm dicts for 70 queries, overflowed it and
    parsed as null), so full detail goes to BENCH_DETAIL.json + the
    committed BENCH_GATE_LOG.jsonl and this line is a compact headline.

    Budget 1500 chars, not the harness's full ~2000: the tail window may
    be combined with trailing stderr/log noise, and the whole compact
    line must sit INSIDE it (the r13 tail started mid-JSON). Shed order:
    corpus_steps, extras, then per-query times shrink to the slowest-N
    that fit, with explicit queries_shown/_total markers."""
    timings = detail["queries"]
    compact = {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": detail["unit"],
        "cores": cores,
        "queries": {_short(k): round(v, 2) for k, v in timings.items()},
        "extras": {k: round(v, 2) for k, v in detail["extras"].items()},
        # pooled/overlapped extras by name (full map in the gate record)
        "extras_pooled": sorted(
            n for ns in detail["extras_methodology"].values() for n in ns
        ),
        "corpus_steps": {
            k: round(v, 2) for k, v in detail["corpus_steps"].items()
        },
        "sf": detail["sf"],
    }
    for key in ("step_regressions", "query_regressions", "extra_regressions"):
        if detail[key]:
            compact[key] = detail[key]
    if detail["adjudication"]:
        compact["adjudication"] = {
            _short(k): v["verdict"] for k, v in detail["adjudication"].items()
        }
    if detail["sf1_slowest"]:
        compact["sf1_slowest"] = {
            _short(k): round(v, 1) for k, v in detail["sf1_slowest"].items()
        }
    if detail["sf1_steps"]:
        compact["sf1_steps"] = {
            k: v["ratio"] for k, v in detail["sf1_steps"].items()
        }
    budget = 1500
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > budget:
        compact.pop("corpus_steps", None)
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > budget:
        compact.pop("extras", None)
        compact.pop("extras_pooled", None)
        line = json.dumps(compact, separators=(",", ":"))
    n_show = 60
    by_desc = sorted(timings.items(), key=lambda kv: -kv[1])
    while len(line) > budget and n_show >= 10:
        compact["queries"] = {
            _short(k): round(v, 2) for k, v in by_desc[:n_show]
        }
        compact["queries_shown"] = min(n_show, len(timings))
        compact["queries_total"] = len(timings)
        # A query absent from a truncated compact record is NOT dropped:
        # it ran faster than this cutoff (the slowest unshown timing).
        if len(timings) > n_show:
            compact["shown_cutoff"] = round(by_desc[n_show][1], 2)
        line = json.dumps(compact, separators=(",", ":"))
        n_show -= 10
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    t_start = time.time()
    cores_start = _effective_cores()
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    spark = get_spark("mesh-bench")
    _warm_up(spark, sf_dir)

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
        build = _query_build(QUERIES[name], sf_dir)
        try:
            runs = [_noop_seconds(spark, build) for _ in range(2)]
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
                runs.append(_noop_seconds(spark, build))
            except Exception as exc:  # noqa: BLE001
                print(f"bench: {name} third run failed: {exc}", file=sys.stderr)
        timings_cold[name] = runs[0]
        timings[name] = min(runs[1:])

    extras, extras_cold, extras_failed = _run_extras(spark, sf_dir)

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
            pin_runs = _interleaved(spark, {
                n: _query_build(QUERIES[n], sf_dir)
                for n in [*ranked, *controls]
            }, rounds=2)
            pins = {n: _best(v) for n, v in pin_runs.items()}
            ctrl_infl = []
            for c in controls:
                base = (
                    expect_all.get("queries", {}).get(c)
                    or prev_queries.get(c)
                    or timings.get(c)
                )
                if base and base > 0 and pins[c] >= 0:
                    ctrl_infl.append(pins[c] / base)
            ctrl_factor = (
                round(sorted(ctrl_infl)[len(ctrl_infl) // 2], 2)
                if ctrl_infl else None
            )
            for n in ranked:
                exp = expect_all.get("queries", {}).get(n)
                verdict = _pin_verdict(
                    pins[n], exp or prev_queries.get(n), ctrl_factor
                )
                if verdict == "cleared-by-pin":
                    query_regressions.pop(n, None)
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

    # The sf1 row runs at sf0.1 only; the 10x tables are cached under
    # /tmp across runs. Disable: SPARK_GRAFT_SF1=0.
    sf1_timings: dict[str, float] = {}
    sf1_autobits: dict[str, float] = {}
    sf1_steps: dict[str, dict[str, float]] = {}
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0" and abs((sf or 0) - 0.1) < 1e-9:
        sf1_timings, sf1_autobits, sf1_steps = _sf1_rows(
            spark, QUERIES, sf_dir, timings, corpus_steps
        )

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    total_cold = round(sum(t for t in timings_cold.values() if t >= 0), 3)
    detail = {
        "metric": "declared_query_set_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": timings_cold,
        "value_cold": total_cold,
        "extras": extras,
        "extras_cold": extras_cold,
        "extras_methodology": extras_methodology(),
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

    print(_compact_line(
        detail, [gate["effective_cores_start"], gate["effective_cores_end"]]
    ))


if __name__ == "__main__":
    main()
