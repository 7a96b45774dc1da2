"""Power-variance classification (M1-M3): rCV safety net + GMM multimodality.

Reference semantics (Requirements/ExampleAiCode.md:280-372; tunables
ExamplePipelineCode.md:232-238):
1. fewer than MIN_SAMPLES_FOR_TEST samples -> "Low" (unreliable).
2. rCV = MAD/median > RCV_THRESHOLD -> "High" (dispersion safety net).
3. else GMM with k=1..MAX_COMPONENTS chosen by BIC; "High" iff >= 2
   components each with weight >= MIN_SIGNIFICANT_WEIGHT whose means are
   separated by >= SEPARATION_THRESHOLD * overall median.

Stage fan-out: the reference classified stages in a joblib thread pool
(EPC:265-269). Here one ``groupBy(stage)`` + ``collect_list`` aggregate
brings each stage's values to the driver, which classifies them. Inputs are
bounded: at most 5000 raw samples per stage (recent_n, W2; a 10-250 ms GMM
fit, see gmm.py) and one median per cycle on the curated re-check. A
``groupBy(stage).applyInPandas`` job costs more in Python worker start and
Arrow round trip than the fits themselves, and AQE runs it as one task.
Each array is sorted first, so a result depends only on the stage's
multiset of values, not on shuffle order.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.analytics.gmm import fit_best_gmm


@dataclass(frozen=True)
class VarianceParams:
    # ExamplePipelineCode.md:232-238
    rcv_threshold: float = 0.35
    min_samples_for_test: int = 50
    max_components: int = 3
    min_significant_weight: float = 0.10
    separation_threshold: float = 0.20


def classify_variance(values: np.ndarray, params: VarianceParams = VarianceParams()) -> dict:
    """Classification of one stage's samples."""
    x = np.asarray(values, dtype=np.float64)
    x = x[np.isfinite(x)]
    n = x.size
    base = {  # key order is the order the AI prompt renders
        "variance": None,
        "reason": None,
        "n_samples": int(n),
        "rcv": None,
        "n_components": 0,
        "means": [],
        "weights": [],
        "covariances": [],
    }
    if n < params.min_samples_for_test:
        return {**base, "variance": "Low", "reason": f"insufficient samples ({n} < {params.min_samples_for_test})"}

    med = float(np.median(x))
    mad = float(np.median(np.abs(x - med)))
    rcv = float("inf") if med == 0 and mad > 0 else (0.0 if med == 0 else mad / med)
    base["rcv"] = float(rcv)
    if rcv > params.rcv_threshold:
        return {**base, "variance": "High", "reason": f"high dispersion (rCV={rcv:.3f} > {params.rcv_threshold})"}

    fit = fit_best_gmm(x, params.max_components)
    base.update(
        n_components=fit.n_components, means=fit.means, weights=fit.weights, covariances=fit.covariances
    )
    significant = [m for m, w in zip(fit.means, fit.weights) if w >= params.min_significant_weight]
    if len(significant) >= 2:
        sep = max(significant) - min(significant)
        if med != 0 and sep >= params.separation_threshold * abs(med):
            return {
                **base,
                "variance": "High",
                "reason": (
                    f"multi-modal: {len(significant)} significant components, "
                    f"separation {sep:.1f} >= {params.separation_threshold} * median {med:.1f}"
                ),
            }
    return {**base, "variance": "Low", "reason": "unimodal / low dispersion"}


def classify_variance_by_stage(
    df: DataFrame,
    stage_col: str,
    value_col: str,
    params: VarianceParams = VarianceParams(),
) -> dict:
    """``{stage: classify_variance(values)}``, ordered by stage (NULL first).

    Collects each stage's values to the driver, so the caller bounds the
    rows per stage. NULL values are dropped and NaN ones not counted; a
    NULL stage key is a stage of its own.
    """
    rows = (
        df.groupBy(stage_col)
        .agg(F.collect_list(F.col(value_col).cast("double")).alias("values"))
        .collect()
    )
    rows.sort(key=lambda r: (r[0] is not None, r[0]))
    return {
        r[0]: classify_variance(np.sort(np.asarray(r["values"], dtype=np.float64)), params)
        for r in rows
    }
