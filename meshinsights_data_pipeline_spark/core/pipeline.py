"""Pipeline — ordered processor execution with conditions and checkpoints.

Reference parity: src/core/pipeline.py:14-171. Same semantics:
- sequential run over the processor list (pipeline.py:101-143)
- per-processor conditions: Callable[[context], bool]; skip + log when false
  (pipeline.py:83-99,123-126)
- checkpoints: snapshot of the context after each successful step
  (pipeline.py:17-19,137-140) — here the driver-side state is deep-copied
  while DataFrame handles are kept as they are: they are immutable plans,
  and a checkpoint pins no cache, so it cannot serve a later run stale rows
- run_partial: inclusive name-addressed slice, honors conditions, no
  error/checkpoint wrapper (pipeline.py:145-171)
- error policy: stop_on_error -> re-raise; else record + continue with the
  unchanged context (pipeline.py:14-16,131-135).
"""

from __future__ import annotations

import copy
from collections.abc import Callable
from dataclasses import dataclass

from meshinsights_data_pipeline_spark.core.context import PipelineContext
from meshinsights_data_pipeline_spark.core.processor import Processor

Condition = Callable[[PipelineContext], bool]


@dataclass
class PipelineConfig:
    stop_on_error: bool = True
    enable_checkpoints: bool = False
    log_level: str = "INFO"


def _snapshot(context: PipelineContext) -> PipelineContext:
    """Checkpoint copy: deep-copies driver-side dicts, keeps DataFrame handles
    (immutable lazy plans)."""
    snap = context.model_copy(update={"processed_data": dict(context.processed_data)})
    for k in ("config", "stages", "issues", "thresholds", "variance_analysis",
              "ai_analysis", "execution_log", "errors", "warnings"):
        setattr(snap, k, copy.deepcopy(getattr(context, k)))
    return snap


class Pipeline:
    def __init__(
        self,
        processors: list[Processor],
        conditions: dict[str, Condition] | None = None,
        config: PipelineConfig | None = None,
        name: str = "pipeline",
    ):
        self.processors = processors
        self.conditions = conditions or {}
        self.config = config or PipelineConfig()
        self.name = name
        self.checkpoints: dict[str, PipelineContext] = {}

    # pipeline.py:83-99
    def should_execute(self, processor: Processor, context: PipelineContext) -> bool:
        cond = self.conditions.get(processor.name)
        if cond is None:
            return True
        try:
            return bool(cond(context))
        except Exception as exc:  # condition errors are treated as skip+warn
            context.add_warning(processor.name, f"condition raised: {exc}")
            return False

    # pipeline.py:101-143
    def run(self, context: PipelineContext) -> PipelineContext:
        for processor in self.processors:
            if not self.should_execute(processor, context):
                context.log_execution(processor.name, {"skipped": True})
                continue
            # Effective policy = processor AND pipeline, computed WITHOUT
            # mutating the (stateless, shareable) processor instance: the
            # attribute is restored after the call.
            own_policy = processor.stop_on_error
            processor.stop_on_error = own_policy and self.config.stop_on_error
            try:
                context = processor(context)
            except Exception:
                if self.config.stop_on_error:
                    raise
                continue
            finally:
                processor.stop_on_error = own_policy
            if self.config.enable_checkpoints:
                self.checkpoints[processor.name] = _snapshot(context)
        return context

    # pipeline.py:145-171
    def run_partial(self, context: PipelineContext, start: str, end: str) -> PipelineContext:
        names = [p.name for p in self.processors]
        if start not in names or end not in names:
            raise StopIteration(f"Unknown processor name(s): {start!r}..{end!r}")
        i, j = names.index(start), names.index(end)
        if i > j:
            raise StopIteration(f"start {start!r} comes after end {end!r}")
        for processor in self.processors[i : j + 1]:
            if not self.should_execute(processor, context):
                context.log_execution(processor.name, {"skipped": True})
                continue
            context = processor(context)
        return context
