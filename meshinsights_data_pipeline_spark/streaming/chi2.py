"""Incremental categorical-association monitoring — the streaming twin
of ``operators.dq.chi2_independence``.

The (a, b) contingency-cell table is a mergeable sufficient statistic
(exact integer counts sum across micro-batches), so after any batch the
recomputed chi-square / Cramér's V report equals the batch operator
over everything ingested — FULL cross-batch parity, exact by
construction. The per-epoch V time series is the feed-forensics
monitor: a V that climbs epoch over epoch means the two fields are
becoming coupled (a sharding leak, correlated missingness, a supplier
whose errors cluster).

State = one versioned snapshot table ``[_a, _b, _o]`` at |A x B|
cardinality. snapshot_before(epoch) reads keep retries idempotent;
report appends are exactly-once per epoch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from meshinsights_data_pipeline_spark.streaming.state import (
    merge_counts,
    state_twin,
    with_epoch,
)


def streaming_chi2_ingest(
    stream: DataFrame,
    col_a: str = "a",
    col_b: str = "b",
    *,
    cells_dir: str,
    report_dir: str,
):
    """foreachBatch callable: merge batch (a, b) contingency cells into
    the chi-square state, recompute the independence report from the
    merged cells, append it with the epoch id.

    Seed the state dir with ``snapshot_overwrite(empty, cells_dir, -1)``
    (schema ``_a string, _b string, _o long``). Report rows are
    ``[epoch, n, r_levels, c_levels, dof, chi2, cramers_v]``.
    """
    from meshinsights_data_pipeline_spark.operators.dq import (
        chi2_cell_counts,
        chi2_from_counts,
    )

    def step(batch_df, epoch_id, pin, prev):
        # the batch operator's own cell stage — shared so the twin's
        # NULL-level exclusion can never drift from batch semantics.
        merged = merge_counts(
            prev, chi2_cell_counts(batch_df, col_a, col_b), ["_a", "_b"], ["_o"]
        )
        return [merged], lambda cells: [
            with_epoch(chi2_from_counts(cells), epoch_id)
        ]

    return state_twin(step, [(cells_dir, None)], [report_dir])
