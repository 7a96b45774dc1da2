"""Incremental CUSUM — the streaming twin of
``operators.changepoint.cusum_changepoints``, with the SMALLEST state
in the twin family: the recurrence ``S_i = max(0, S_{i-1} + d_i)``
depends on history only through the single scalar ``S``, so state is
exactly two DECIMAL(38,6) values per key.

Each micro-batch joins the carried (s_plus, s_minus) onto its rows and
scores them with the batch machinery's carry-aware closed form
(``_cusum_exact``: seeding the recurrence with s0 equals folding
``-s0`` into the running-min floor — an exact-decimal identity, proved
in its docstring). For in-event-time-order ingest the emitted scores
are therefore BIT-IDENTICAL to the batch operator over everything
ingested so far — full cross-batch parity. Out-of-order delta (the
scoring twins' family caveat): CUSUM is inherently order-sensitive; a
late row scores against the statistic as of its ingest epoch and does
not retro-rescore, run the batch operator for a corpus-wide redo.

State carries the UNROUNDED decimals (rounding only at emission), so
parity holds even at 6dp boundaries; rows with NULL/NaN values are
guarded out BEFORE state updates (the r12 rolling-twin lesson: an
unguarded bad row must not perturb carried state). Exactly-once per
epoch by default via ``idempotent_epoch_append``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cusum_state_schema(key_cols: str = "user_id long") -> str:
    """State-seeding schema: the key columns (full DDL), then the two
    carried statistics as DECIMAL(38,6) (the batch machinery's exact
    type — carrying rounded doubles would break bit parity at 6dp
    boundaries)."""
    return f"{key_cols}, _sp decimal(38,6), _sm decimal(38,6)"


def streaming_cusum_ingest(
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    *,
    state_dir: str,
    scores_dir: str,
    target: float,
    slack: float = 0.5,
    threshold: float = 5.0,
    idempotent: bool = True,
):
    """foreachBatch callable: score the batch rows' two-sided CUSUM
    seeded by the carried per-key statistics, append
    ``[*key_cols, id, ts, value, s_plus, s_minus, alarm_up,
    alarm_down]``, and carry each key's last exact statistic forward.

    Seed the state dir with ``snapshot_overwrite(empty, state_dir,
    -1)`` (schema: ``cusum_state_schema(...)``); a warm start from an
    existing corpus seeds it with the batch operator's final exact
    statistics instead. Returns the callable for
    ``stream.writeStream.foreachBatch(...)``.
    """
    keys = list(key_cols or ["user_id"])

    from pyspark.sql import Window

    from meshinsights_data_pipeline_spark.operators.barrier import release_checkpoint
    from meshinsights_data_pipeline_spark.operators.changepoint import (
        _cusum_clean,
        _cusum_exact,
        _cusum_round,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        columns_ddl,
        snapshot_before,
        snapshot_overwrite,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # same guard + exact drift terms as the batch operator; bad
        # rows are dropped before they can touch carried state
        clean = _cusum_clean(
            batch_df, ts_col, keys, value_col, id_col, target, slack
        )
        state = snapshot_before(
            spark, state_dir, epoch_id,
            schema=cusum_state_schema(columns_ddl(batch_df, keys)),
        )
        prev = state.select(
            *keys,
            F.col("_sp").alias("_carry_p"),
            F.col("_sm").alias("_carry_m"),
        )
        seeded = clean.join(prev, keys, "left")
        scored = _cusum_exact(
            seeded, ts_col, keys, id_col,
            carry_p="_carry_p", carry_m="_carry_m",
        ).localCheckpoint()  # feeds the emission AND the state rewrite

        out = _cusum_round(scored, ts_col, keys, value_col, id_col,
                           threshold)

        # next state: each batch key's LAST exact statistic (the
        # recurrence's only memory), untouched keys keep their rows
        w = Window.partitionBy(*keys).orderBy(
            F.col(ts_col).desc(), F.col(id_col).desc()
        )
        last = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*keys, F.col("_sp"), F.col("_sm"))
        )
        untouched = state.join(last.select(*keys), keys, "left_anti")
        snapshot_overwrite(last.unionByName(untouched), state_dir,
                           version=epoch_id)

        if idempotent:
            from meshinsights_data_pipeline_spark.sources.layout import (
                idempotent_epoch_append,
            )

            idempotent_epoch_append(out, scores_dir, epoch_id)
        else:
            out.write.mode("append").parquet(scores_dir)
        release_checkpoint(scored)  # written: free it now, not at the next GC

    return _process
