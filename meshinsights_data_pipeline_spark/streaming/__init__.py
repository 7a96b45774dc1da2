"""Structured Streaming variants of the batch operators (SURVEY §2.10).

The reference is batch-only; these are the north-star extension surface
(BASELINE approach: "DataFrame ops + Structured Streaming"). Each streaming
operator is the watermarked/stateful twin of a batch operator and is tested
for PARITY against it via foreachBatch collection over a bounded stream.

Every foreachBatch twin that carries state or appends output runs the one
epoch of ``streaming.state.state_twin``: read each versioned state as of
before the epoch, rewrite it as version ``epoch``, append each output under
``_epoch=<epoch>``, release the step's local checkpoints. A retried
micro-batch therefore replaces its own writes (exactly-once per epoch),
and a twin supplies only the DataFrame logic of its merge and outputs,
built on its batch operator's own count stage.
"""

from meshinsights_data_pipeline_spark.streaming.ann import (
    streaming_ivf_ingest,
    streaming_pq_ingest,
)
from meshinsights_data_pipeline_spark.streaming.dedup import (
    streaming_exact_dedup,
    streaming_lsh_ingest,
    streaming_payload_lsh_ingest,
    streaming_span_ingest,
)
from meshinsights_data_pipeline_spark.streaming.drift import (
    streaming_drift_ingest,
)
from meshinsights_data_pipeline_spark.streaming.joins import (
    streaming_interval_join,
)
from meshinsights_data_pipeline_spark.streaming.ks import (
    streaming_ks_ingest,
)
from meshinsights_data_pipeline_spark.streaming.benford import (
    streaming_benford_ingest,
)
from meshinsights_data_pipeline_spark.streaming.entropy import (
    streaming_entropy_ingest,
)
from meshinsights_data_pipeline_spark.streaming.jsd import (
    streaming_jsd_ingest,
)
from meshinsights_data_pipeline_spark.streaming.abtest import (
    streaming_abtest_ingest,
    streaming_mann_whitney_ingest,
    streaming_sprt_ingest,
)
from meshinsights_data_pipeline_spark.streaming.chi2 import (
    streaming_chi2_ingest,
)
from meshinsights_data_pipeline_spark.streaming.mleval import (
    streaming_auc_ingest,
    streaming_bootstrap_ingest,
    streaming_calibration_ingest,
)
from meshinsights_data_pipeline_spark.streaming.ols import (
    streaming_ols_ingest,
)
from meshinsights_data_pipeline_spark.streaming.sketch import (
    streaming_cms_ingest,
    streaming_hist_quantile_ingest,
    streaming_hll_ingest,
)
from meshinsights_data_pipeline_spark.streaming.survival import (
    streaming_km_ingest,
)
from meshinsights_data_pipeline_spark.streaming.attribution import (
    streaming_attribution_ingest,
)
from meshinsights_data_pipeline_spark.streaming.basket import (
    streaming_basket_ingest,
)
from meshinsights_data_pipeline_spark.streaming.bm25 import (
    streaming_bm25_ingest,
)
from meshinsights_data_pipeline_spark.streaming.dsir import (
    streaming_dsir_ingest,
)
from meshinsights_data_pipeline_spark.streaming.novelty import (
    streaming_novelty_ingest,
)
from meshinsights_data_pipeline_spark.streaming.pmi import (
    streaming_pmi_ingest,
)
from meshinsights_data_pipeline_spark.streaming.rolling import (
    streaming_rolling_ingest,
)
from meshinsights_data_pipeline_spark.streaming.cusum import (
    streaming_cusum_ingest,
)
from meshinsights_data_pipeline_spark.streaming.lm import (
    streaming_lm_ingest,
)
from meshinsights_data_pipeline_spark.streaming.transitions import (
    streaming_transitions_ingest,
)
from meshinsights_data_pipeline_spark.streaming.scd2 import (
    scd2_read,
    streaming_scd2_ingest,
)
from meshinsights_data_pipeline_spark.streaming.compose import (
    parallel_batch,
)
from meshinsights_data_pipeline_spark.streaming.report import (
    report_from_state,
    streaming_report_ingest,
)
from meshinsights_data_pipeline_spark.streaming.stateful import (
    streaming_debounce,
    streaming_funnel,
    streaming_state_change_sessions,
)
from meshinsights_data_pipeline_spark.streaming.windows import (
    streaming_session_window,
    streaming_sunday_weekly_stats,
    streaming_weekly_active_users,
    streaming_weekly_stats,
)

__all__ = [
    "streaming_session_window",
    "streaming_weekly_stats",
    "streaming_sunday_weekly_stats",
    "streaming_weekly_active_users",
    "streaming_funnel",
    "streaming_state_change_sessions",
    "streaming_exact_dedup",
    "streaming_lsh_ingest",
    "streaming_payload_lsh_ingest",
    "streaming_span_ingest",
    "streaming_ivf_ingest",
    "streaming_pq_ingest",
    "streaming_report_ingest",
    "report_from_state",
    "streaming_bm25_ingest",
    "streaming_dsir_ingest",
    "streaming_novelty_ingest",
    "streaming_pmi_ingest",
    "streaming_rolling_ingest",
    "streaming_cusum_ingest",
    "streaming_basket_ingest",
    "streaming_attribution_ingest",
    "streaming_lm_ingest",
    "streaming_drift_ingest",
    "streaming_ks_ingest",
    "streaming_benford_ingest",
    "streaming_abtest_ingest",
    "streaming_chi2_ingest",
    "streaming_auc_ingest",
    "streaming_cms_ingest",
    "streaming_hist_quantile_ingest",
    "streaming_ols_ingest",
    "streaming_hll_ingest",
    "streaming_bootstrap_ingest",
    "streaming_calibration_ingest",
    "streaming_mann_whitney_ingest",
    "streaming_sprt_ingest",
    "streaming_entropy_ingest",
    "streaming_jsd_ingest",
    "streaming_km_ingest",
    "streaming_debounce",
    "streaming_interval_join",
    "streaming_scd2_ingest",
    "scd2_read",
    "streaming_transitions_ingest",
]
