"""Incremental rolling-window stats — the streaming twin of
``operators.rollup.rolling_stats`` (the merged-history pattern, with a
provably BOUNDED state: a ROWS frame of n points needs only the last
n-1 observations per key, so state size is |keys| x (n-1) — next to
BM25's counter rows and above only the CUSUM twin's two scalars/key).

Each micro-batch unions its rows with the retained tail, scores by
CALLING THE BATCH OPERATOR on the union (definitional parity), emits
the batch rows' scores, and retains the new last-(n-1) tail. For
in-event-time-order ingest the emitted scores are bit-identical to the
batch operator over everything ingested so far — FULL cross-batch
parity, like the PMI twin. Out-of-order delta (documented, the scoring
twins' family caveat): a late row scores against the tail as of its
ingest epoch and does not retro-rescore earlier emissions; run the
batch operator for a corpus-wide redo.

Tail state is a pure function of the merged (key, ts, id) order —
re-merge-idempotent — but reads use ``snapshot_before(epoch)`` for
uniformity; score appends are exactly-once per epoch by default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rolling_state_schema(
    key_cols: str = "user_id long",
    ts_type: str = "timestamp",
    id_type: str = "long",
    value_type: str = "double",
) -> str:
    """State-seeding schema: the key columns (full DDL, e.g.
    ``"user_id long"``), then ts/id/value with the SOURCE's types
    (the attribution-twin lesson: hardcoded types fail or NULL the
    first prev-state union on LTZ/string sources)."""
    return f"{key_cols}, _ts {ts_type}, _id {id_type}, _v {value_type}"


def streaming_rolling_ingest(
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    *,
    tail_dir: str,
    scores_dir: str,
    n: int = 5,
    idempotent: bool = True,
):
    """foreachBatch callable: score the batch rows' rolling n-point
    sum/mean against (retained tail + batch), append
    ``[*key_cols, id, ts, value, roll_n, roll_sum, roll_avg]``, retain
    the new per-key last-(n-1) tail.

    Seed the state dir with ``snapshot_overwrite(empty, tail_dir, -1)``
    (schema: ``rolling_state_schema(...)``). Returns the callable for
    ``stream.writeStream.foreachBatch(...)``.
    """
    keys = list(key_cols or ["user_id"])

    from pyspark.sql import Window

    from meshinsights_data_pipeline_spark.operators.barrier import release_checkpoint
    from meshinsights_data_pipeline_spark.operators.rollup import (
        rolling_stats,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        columns_ddl,
        snapshot_before,
        snapshot_overwrite,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # Same NULL/NaN guard as the batch operator, applied BEFORE the
        # union: an unguarded NULL/NaN row would survive into the
        # retained tail and evict a real observation, so later batches'
        # roll_sum/roll_avg would diverge from the batch operator over
        # the full history (the parity contract in the module docstring).
        _v = F.col(value_col).cast("double")
        batch = batch_df.filter(_v.isNotNull() & ~F.isnan(_v)).select(
            *keys,
            F.col(ts_col).alias("_ts"),
            F.col(id_col).alias("_id"),
            F.col(value_col).alias("_v"),
        )
        schema = rolling_state_schema(
            columns_ddl(batch_df, keys),
            *(batch_df.schema[c].dataType.simpleString() for c in (ts_col, id_col, value_col)),
        )
        prev = snapshot_before(spark, tail_dir, epoch_id, schema=schema).select(
            *keys, "_ts", "_id", "_v"
        )
        merged = prev.union(batch).localCheckpoint()  # feeds scoring,
        # the tail rewrite, AND the batch-row semi-join

        scored = rolling_stats(merged, "_ts", keys, "_v", "_id", n=n)
        out = scored.join(
            batch.select(*keys, "_id"), [*keys, "_id"], "left_semi"
        ).select(
            *keys,
            F.col("_id").alias(id_col),
            F.col("_ts").alias(ts_col),
            F.col("_v").alias(value_col),
            "roll_n",
            "roll_sum",
            "roll_avg",
        )

        w = Window.partitionBy(*keys).orderBy(
            F.col("_ts").desc(), F.col("_id").desc()
        )
        tail = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(n) - 1)
            .drop("_rn")
        )
        snapshot_overwrite(tail, tail_dir, version=epoch_id)

        if idempotent:
            from meshinsights_data_pipeline_spark.sources.layout import (
                idempotent_epoch_append,
            )

            idempotent_epoch_append(out, scores_dir, epoch_id)
        else:
            out.write.mode("append").parquet(scores_dir)
        release_checkpoint(merged)  # written: free it now, not at the next GC

    return _process
