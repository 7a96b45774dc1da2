"""Incremental SCD type-2 maintenance — the streaming twin of
``operators.snapshot.scd2_merge`` (the streaming MERGE/upsert every
continuously-fed dimension table needs).

State split (the 100 TB design decision): an SCD2 history is two very
different tables glued together — a bounded OPEN slice (exactly one row
per live key, mutated every batch) and an append-only CLOSED log (rows
become immutable the moment they are closed). Maintaining them as one
snapshot would rewrite the whole history every epoch; splitting them
makes per-epoch cost proportional to |open| + |batch|:

- ``open_dir``  — versioned snapshot (``sources.layout.snapshot_overwrite``)
  of the open slice only. Rewritten each epoch; size = live-key
  cardinality, independent of history depth.
- ``closed_dir`` — epoch-partitioned append-only log
  (``sources.layout.idempotent_epoch_append``) receiving ONLY the rows
  closed in that epoch. Never rewritten.

Retry safety: the open slice is read with ``snapshot_before(epoch)`` (a
retried micro-batch recomputes from pre-epoch state instead of
re-merging into its own output), and the closed append is exactly-once
per epoch via dynamic partition overwrite — so a Structured Streaming
retry of any epoch leaves both tables bit-identical (tested).

This is the plain-parquet stand-in for a transactional format's
streaming MERGE; on Delta/Iceberg the same split falls out of a MERGE
with a partial-update clause plus the table's own snapshot isolation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.state import state_twin
from pyspark.sql.utils import AnalysisException


def streaming_scd2_ingest(
    stream: DataFrame,
    *,
    keys: list[str],
    attrs: list[str],
    ts_col: str,
    open_dir: str,
    closed_dir: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
):
    """foreachBatch callable: apply each micro-batch of keyed updates to
    the SCD2 state (close superseded versions into ``closed_dir``,
    rewrite the open slice under ``open_dir``).

    Seed the open slice with the existing dimension as all-open rows:
    ``snapshot_overwrite(dim.withColumn(valid_to, lit(None).cast(...)),
    open_dir, version=-1)`` (an empty frame with the right schema for a
    cold start). ``closed_dir`` needs no seed. Batch rows carry
    [*keys, *attrs, ts_col]; per-key/late/no-op semantics are exactly
    ``operators.snapshot.scd2_merge`` (sequential per-batch application,
    so cross-batch intermediate versions are preserved — unlike one big
    batch merge, which collapses them; parity is against the sequential
    fold, tested).

    Returns the callable for ``stream.writeStream.foreachBatch(...)``.
    Read the full history back with ``scd2_read``.
    """
    from meshinsights_data_pipeline_spark.operators.snapshot import scd2_merge

    out_cols = [*keys, *attrs, valid_from, valid_to]

    def step(batch_df, epoch_id, pin, open_prev):
        # open_prev holds only valid_to-NULL rows, so everything scd2_merge
        # returns with a non-NULL valid_to was closed by THIS batch.
        merged = pin(  # consumed twice (closed + open split); avoid
            # re-running the merge join per consumer
            scd2_merge(
                open_prev.select(*out_cols),
                batch_df.select(*keys, *attrs, ts_col),
                keys=keys,
                attrs=attrs,
                ts_col=ts_col,
                valid_from=valid_from,
                valid_to=valid_to,
            )
        )
        return (
            [merged.where(F.col(valid_to).isNull())],
            [merged.where(F.col(valid_to).isNotNull())],
        )

    return state_twin(step, [(open_dir, None)], [closed_dir])


def scd2_read(
    spark: SparkSession,
    open_dir: str,
    closed_dir: str,
    as_of=None,
    ts_type: str = "timestamp",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Reassemble the full SCD2 history from the split state: latest open
    snapshot UNION the closed log. With ``as_of`` (a timestamp literal or
    Column), returns the dimension AS OF that instant instead — one row
    per key whose version interval covers it (``valid_from <= as_of <
    valid_to``, open rows unbounded) — the point-in-time read that makes
    type-2 history worth keeping.

    ``closed_dir`` may not exist yet (no row ever closed); that reads as
    an empty slice, not an error.
    """
    from meshinsights_data_pipeline_spark.sources.layout import latest_snapshot

    open_ = latest_snapshot(spark, open_dir)
    try:
        closed = spark.read.parquet(closed_dir).drop("_epoch").select(
            *open_.columns
        )
        full = closed.unionByName(open_)
    except AnalysisException:  # PATH_NOT_FOUND — nothing closed yet
        full = open_
    if as_of is None:
        return full
    ts = as_of if isinstance(as_of, Column) else F.lit(as_of).cast(ts_type)
    return full.where(
        (F.col(valid_from) <= ts)
        & (F.col(valid_to).isNull() | (F.col(valid_to) > ts))
    )
