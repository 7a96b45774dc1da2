"""PowerAnalysisPipeline (M1-M10) — the reference's analytics workload,
re-expressed as a Processor list over lazy DataFrame plans.

Reference flow (Requirements/ExamplePipelineCode.md:104-131):
1. fetch/normalize -> merged (ts, stage, value, cycle) frame  [injected here]
2. _filter_valid_cycles (count>=4, median>0, mode>0)          [EPC:156-218]
3. _identify_power_variance_per_stage_raw (cap 5000/stage)    [EPC:221-272]
4. _identify_issues_per_stage                                 [EPC:335-360]
5. _curate_stage_data                                         [EPC:363-453]
6. _identify_power_variance_per_stage_curated (upgrade-only)  [EPC:275-332]
7. _calculate_baseline_power_thresholds                       [EPC:456-484]

Job-boundary design (SURVEY §3.3): step 2 is one window pass over the cycle
keys, computed once by an eager ``localCheckpoint`` that every later step
reads; step 5's per-cycle medians are checkpointed the same way for steps 6
and 7. Steps 3 and 6 collect each stage's values as one array and classify
it on the driver: the arrays are bounded by the recent_n cap (at most 5000
samples per stage) on step 3 and by the cycle count (one median per cycle)
on step 6, so a run starts no Python worker. The gating decisions (4, 6's
skip rule, 7) collect per-stage scalars. These collects are the deliberate,
documented boundaries: the driver receives per-stage scalars and bounded
per-stage arrays, never bulk rows.

Spark jobs per step, from a traced ``fleet_ingest`` op (one device, about
26k rows, every stage kind; 4 cores; under AQE each shuffle stage is a job
of its own), for three successive designs:

    step                       persist  checkpoint  driver-side
    filter_valid_cycles              0           3            3
    classify_variance_raw            9           2            2
    identify_issues                  6           3            3
    curate_stage_data                0           4            2
    classify_variance_curated        5           2            2
    calculate_thresholds             5           2            2
    ai_classification                4           2            2
    total                           29          18           16

"persist": a lazy ``persist()`` of step 2 (paid by step 3), two aggregates
+ join + broadcast semi-join for the valid-cycle filter, two collects in
step 4 and a curated frame recomputed by each consumer. "checkpoint":
eager checkpoints for steps 2 and 5, one two-level aggregate for step 4,
step 7's weekly rows sorted on the driver. "driver-side": steps 3 and 6
classified on the driver instead of in a ``groupBy(stage).applyInPandas``
job, and no global sort in step 5.

Why ``localCheckpoint`` and not ``persist()``: a persisted frame is
registered in the session's CacheManager and stays there after the run, so
a second run over the same path (after its files changed) was served the
first run's rows. A local checkpoint is not in the CacheManager, truncates
the lineage under the later steps (step 4's aggregate over the same rows:
0.39 s on an eagerly persisted frame, 0.35 s on the checkpoint, median of
six runs on 4 cores), and its blocks are freed once the returned frames
are garbage-collected. It is not fault-tolerant: the blocks live on the
executors only, so losing an executor fails the run's later jobs instead
of recomputing them.

Canonical conditions (Architectural Options/Opus.md:513-526): thresholds run
iff no stage is "High"; the AI step (genai/) runs iff some stage is "High"
and is never auto-triggered (EPC:486-493).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.analytics.issues import stage_issue_flags
from meshinsights_data_pipeline_spark.analytics.curation import curate_stage_data
from meshinsights_data_pipeline_spark.analytics.thresholds import thresholds_dict
from meshinsights_data_pipeline_spark.analytics.variance import (
    VarianceParams,
    classify_variance_by_stage,
)
from meshinsights_data_pipeline_spark.core.context import PipelineContext
from meshinsights_data_pipeline_spark.core.pipeline import Pipeline, PipelineConfig
from meshinsights_data_pipeline_spark.core.processor import Processor
from meshinsights_data_pipeline_spark.operators.recent_n import recent_n
from meshinsights_data_pipeline_spark.operators.valid_cycles import filter_valid_cycles

MAX_RAW_SAMPLES_PER_STAGE = 5000  # EPC:232
MIN_SAMPLES_FOR_TEST_CURATED = 20  # EPC:303


class Columns:
    """Column-name binding so the workload runs on any conforming frame
    (HVAC: tstate/energy/timeStamp; testdata: event_type/value/ts)."""

    def __init__(self, stage="tstate", value="energy", ts="timeStamp", cycle="cycle"):
        self.stage, self.value, self.ts, self.cycle = stage, value, ts, cycle


class FilterValidCyclesStep(Processor):
    """EPC:156-218."""

    def __init__(self, cols: Columns, min_cycle_length=4, **kw):
        super().__init__(name="filter_valid_cycles", **kw)
        self.cols, self.min_cycle_length = cols, min_cycle_length

    def validate_prerequisites(self, context):
        df = self.require_raw_data(context)
        self.require_columns(df, [self.cols.stage, self.cols.value, self.cols.cycle])

    def process(self, context):
        c = self.cols
        # Every later step runs its own jobs over these rows: computed
        # here, once, with the lineage cut (see the module docstring for
        # why a local checkpoint and not persist()).
        kept = filter_valid_cycles(
            context.raw_data, [c.stage, c.cycle], c.value, min_cycle_length=self.min_cycle_length
        ).localCheckpoint()
        out = context.model_copy(update={"raw_data": kept})
        out.processed_data["power.filtered"] = kept
        return out


class ClassifyVarianceRawStep(Processor):
    """EPC:221-272: per stage, cap to most recent 5000, classify."""

    def __init__(self, cols: Columns, params: VarianceParams = VarianceParams(), **kw):
        super().__init__(name="classify_variance_raw", **kw)
        self.cols, self.params = cols, params

    def process(self, context):
        c = self.cols
        capped = recent_n(
            context.raw_data, MAX_RAW_SAMPLES_PER_STAGE, [c.stage], c.ts
        )
        out = context.model_copy()
        out.variance_analysis = classify_variance_by_stage(capped, c.stage, c.value, self.params)
        return out


class IdentifyIssuesStep(Processor):
    """EPC:335-360: low_cycle_count always; short_cycling only for High
    stages that are not low_cycle_count."""

    def __init__(self, cols: Columns, min_cycles=10, **kw):
        super().__init__(name="identify_issues", **kw)
        self.cols, self.min_cycles = cols, min_cycles

    def process(self, context):
        c = self.cols
        high = {s for s, v in context.variance_analysis.items() if v.get("variance") == "High"}
        issues: dict[str, list[str]] = {}
        for r in stage_issue_flags(context.raw_data, c.stage, c.cycle, self.min_cycles).collect():
            s = r[c.stage]
            if r["low_cycle_count"]:
                issues[s] = ["low_cycle_count"]
            elif r["short_cycling"] and s in high:
                issues[s] = ["short_cycling"]
            else:
                issues[s] = []
        out = context.model_copy()
        out.issues = issues
        return out


class CurateStageDataStep(Processor):
    """EPC:363-453: issues or High variance -> stage excluded (empty);
    Low -> per-cycle medians."""

    def __init__(self, cols: Columns, **kw):
        super().__init__(name="curate_stage_data", **kw)
        self.cols = cols

    def process(self, context):
        c = self.cols
        curatable = [
            s
            for s in context.issues
            if not context.issues.get(s)
            and context.variance_analysis.get(s, {}).get("variance") == "Low"
        ]
        # Materialized once: the curated re-check and the thresholds step
        # both read it, and it is one row per cycle.
        curated = curate_stage_data(
            context.raw_data, curatable, c.stage, c.cycle, c.value, c.ts
        ).localCheckpoint()
        out = context.model_copy()
        out.processed_data["power.curated"] = curated
        out.stages[self.name] = {"curatable_stages": sorted(map(str, curatable))}
        return out


class ClassifyVarianceCuratedStep(Processor):
    """EPC:275-332: re-check only currently-Low stages on per-cycle medians;
    upgrade-only merge (Low -> High allowed, never the reverse,
    EPC:330-332). Deliberately sequential in the reference (EPC:309); here
    one aggregate collects each stage's cycle medians."""

    def __init__(self, cols: Columns, params: VarianceParams | None = None, **kw):
        super().__init__(name="classify_variance_curated", **kw)
        self.cols = cols
        self.params = params or VarianceParams(min_samples_for_test=MIN_SAMPLES_FOR_TEST_CURATED)

    def process(self, context):
        c = self.cols
        curated = context.processed_data.get("power.curated")
        out = context.model_copy()
        if curated is None:
            return out
        low_stages = [
            s for s, v in context.variance_analysis.items() if v.get("variance") == "Low"
        ]
        recheck = curated.filter(F.col(c.stage).isin(low_stages))
        upgraded = classify_variance_by_stage(
            recheck, c.stage, f"median_{c.value}_cycle", self.params
        )
        merged = dict(context.variance_analysis)
        for s, v in upgraded.items():
            if v["variance"] == "High":  # upgrade-only (EPC:330-332)
                merged[s] = {**v, "reason": f"curated re-check: {v['reason']}"}
        out.variance_analysis = merged
        return out


class CalculateThresholdsStep(Processor):
    """EPC:456-484."""

    def __init__(self, cols: Columns, **kw):
        super().__init__(name="calculate_thresholds", **kw)
        self.cols = cols

    def process(self, context):
        c = self.cols
        curated = context.processed_data.get("power.curated")
        out = context.model_copy()
        all_stages = list(context.variance_analysis)
        if curated is None:
            out.thresholds = {s: None for s in all_stages}
            return out
        out.thresholds = thresholds_dict(
            curated, c.stage, f"median_{c.value}_cycle", all_stages, context.variance_analysis
        )
        return out


def build_power_pipeline(
    cols: Columns | None = None,
    params: VarianceParams = VarianceParams(),
    config: PipelineConfig | None = None,
    stage_pairs=None,
) -> Pipeline:
    """Assemble the workload with the canonical conditions (OPS:513-526):
    thresholds always computed after variance is known; the AI curation step
    runs iff some stage is "High" variance. The API dispatch itself stays
    explicit-trigger-only (genai.classification.trigger, EPC:486-493)."""
    from meshinsights_data_pipeline_spark.genai.classification import (
        AiClassificationStep,
        any_high_variance,
    )
    from meshinsights_data_pipeline_spark.genai.weekly_summary import (
        DEFAULT_STAGE_PAIRS,
    )

    cols = cols or Columns()

    def any_issues_or_variance(ctx: PipelineContext) -> bool:
        return bool(ctx.variance_analysis)

    return Pipeline(
        processors=[
            FilterValidCyclesStep(cols),
            ClassifyVarianceRawStep(cols, params),
            IdentifyIssuesStep(cols),
            CurateStageDataStep(cols),
            ClassifyVarianceCuratedStep(cols),
            CalculateThresholdsStep(cols),
            AiClassificationStep(
                stage_col=cols.stage,
                value_col=cols.value,
                ts_col=cols.ts,
                stage_pairs=stage_pairs or DEFAULT_STAGE_PAIRS,
            ),
        ],
        conditions={
            "calculate_thresholds": any_issues_or_variance,
            "ai_classification": any_high_variance,
        },
        config=config,
        name="power_analysis",
    )


def run_power_analysis(df: DataFrame, cols: Columns | None = None) -> PipelineContext:
    """One-call form of the reference's constructor-runs-everything API
    (EPC:50-102), minus the eager execution: tables stay lazy."""
    ctx = PipelineContext(pipeline_name="power_analysis", correlation_id="run", raw_data=df)
    return build_power_pipeline(cols).run(ctx)
