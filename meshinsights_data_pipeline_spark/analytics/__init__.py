from meshinsights_data_pipeline_spark.analytics.variance import (  # noqa: F401
    VarianceParams,
    classify_variance,
    classify_variance_by_stage,
)
from meshinsights_data_pipeline_spark.analytics.issues import stage_issue_flags  # noqa: F401
from meshinsights_data_pipeline_spark.analytics.curation import curate_stage_data  # noqa: F401
from meshinsights_data_pipeline_spark.analytics.thresholds import baseline_thresholds  # noqa: F401
