"""The one epoch every streaming twin runs.

A twin keeps its running statistic in versioned snapshot tables
(``sources.layout``: ``<dir>/_v=<epoch>/``) and appends what it emits to
epoch-partitioned tables (``<dir>/_epoch=<epoch>/``). Each micro-batch is
the same exactly-once epoch:

1. read each state as of BEFORE this epoch (``snapshot_before``), so a
   retried micro-batch merges into the pre-epoch state, never into its
   own earlier attempt — summed counts would double;
2. build the new state and the outputs from the batch (the twin's
   ``step``: DataFrame logic only, usually the batch operator's own
   count stage plus a merge);
3. rewrite each state as version ``epoch`` (``snapshot_overwrite``; a
   retry replaces only its own version);
4. append each output under ``_epoch=<epoch>`` (``idempotent_epoch_append``;
   a retry replaces only its own partition);
5. release every local checkpoint the step pinned.

Outputs computed from the new state read it back from the committed
version (write, then scan ``_v=<epoch>`` with the written frame's own
schema): the write is the one materialization, and no output ever reads
a plan over the directory being written. Frames used more than once
within the step are pinned with ``pin`` (``localCheckpoint``), and freed
here once the epoch's writes are done, not at the next driver GC.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.operators.barrier import release_checkpoint
from meshinsights_data_pipeline_spark.sources.layout import (
    idempotent_epoch_append,
    snapshot_before,
    snapshot_overwrite,
    snapshot_overwrite_read,
)


def state_twin(
    step: Callable[..., tuple],
    states: Sequence[tuple[str, str | Callable[[DataFrame], str] | None]],
    outputs: Sequence[str],
) -> Callable[[DataFrame, int], None]:
    """Return the ``foreachBatch`` callable running ``step`` as one
    exactly-once epoch.

    ``states`` lists each state table as ``(dir, schema)``; ``schema`` is
    a DDL string, a function of the batch returning one (when the key
    types come from the source), or None to infer it from the files.
    ``outputs`` lists the append-only output dirs.

    ``step(batch, epoch_id, pin, *prev)`` gets the micro-batch, the epoch
    id, ``pin`` and one pre-epoch frame per state, and returns
    ``(new_states, outs)``: one new frame per state dir, and either one
    frame per output dir or, when the outputs derive from the new
    states, a function from the committed new states to that list.
    ``pin(df)`` local-checkpoints a frame the step uses more than once;
    it is released after the epoch's writes.
    """

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = [
            snapshot_before(spark, d, epoch_id,
                            schema=s(batch_df) if callable(s) else s)
            for d, s in states
        ]
        pinned: list[DataFrame] = []

        def pin(df: DataFrame) -> DataFrame:
            df = df.localCheckpoint()
            pinned.append(df)
            return df

        try:
            new, outs = step(batch_df, epoch_id, pin, *prev)
            dirs = [d for d, _ in states]
            if callable(outs):
                outs = outs(*(snapshot_overwrite_read(df, d, epoch_id)
                              for df, d in zip(new, dirs, strict=True)))
            else:
                for df, d in zip(new, dirs, strict=True):
                    snapshot_overwrite(df, d, epoch_id)
            for df, d in zip(outs, outputs, strict=True):
                idempotent_epoch_append(df, d, epoch_id)
        finally:
            for df in pinned:
                release_checkpoint(df)

    return _process


def merge_counts(
    prev: DataFrame, batch: DataFrame, keys: Sequence[str], counts: Sequence[str]
) -> DataFrame:
    """A count-table state's merge: ``prev`` and ``batch`` (same column
    order, keys first) summed per key into bigint ``counts``."""
    return (
        prev.select(*keys, *counts)
        .union(batch)
        .groupBy(*keys)
        .agg(*(F.sum(c).cast("bigint").alias(c) for c in counts))
    )


def with_epoch(df: DataFrame, epoch_id: int) -> DataFrame:
    """``df`` plus the bigint ``epoch`` column an epoch report carries."""
    return df.withColumn("epoch", F.lit(int(epoch_id)).cast("bigint"))
