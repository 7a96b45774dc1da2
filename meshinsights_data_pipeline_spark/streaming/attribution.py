"""Incremental last-touch attribution — the streaming twin of
``operators.funnel.last_touch_attribution`` (the merged-history state
pattern of streaming_basket_ingest / streaming_novelty_ingest).

Each micro-batch folds its touch events into the accumulated touch
table, then attributes the batch's conversions against the merged
(history + batch) touches BY CALLING THE BATCH OPERATOR on the
reconstructed event frame — so the streaming scores are definitionally
identical to batch semantics, and a click ingested in epoch 3 correctly
credits a purchase arriving in epoch 7 (which a batch run over one
epoch cannot see). The single-batch case is therefore bit-identical to
the batch operator by construction. Cross-batch delta (documented, the
same family as the other scoring twins): attribution is "as of the
conversion's ingest epoch" — a LATE touch (event time before an
already-attributed conversion, ingested after it) does not
retro-reattribute; run the batch operator for a corpus-wide redo.

State = one mergeable table ``[user, t_ts, touch_id]`` with one row per
distinct (user, touch timestamp) — bounded by the distinct touch
volume, the same growth class as the novelty twin's gram table. A
deployment whose event time advances monotonically across epochs can
prune rows older than the lookback horizon; pruning is NOT applied here
because a late conversion may still attribute to an old touch.

Deduped min-id-per-timestamp state is re-merge-idempotent, but state
reads still use ``snapshot_before(epoch)`` for uniformity with the
other twins; attribution appends are exactly-once per epoch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.state import state_twin


def attribution_state_schema(
    user_col: str = "user_id",
    user_type: str = "long",
    ts_type: str = "timestamp_ntz",
    id_type: str = "long",
) -> str:
    """State-seeding schema, keyed by the SAME user column name AND
    column types the source stream carries — a hardcoded name would make
    a non-default ``user_col`` fail its first state read, and hardcoded
    types (ts pinned to NTZ, ids pinned to long) would make a
    TIMESTAMP-LTZ source or string/UUID event ids fail the first
    prev-state union (or silently NULL the ids) — the exact
    schema-mismatch first read this helper exists to prevent. Pass the
    source's types (e.g. ``ts_type="timestamp"``, ``id_type="string"``)
    when they differ from the testdata defaults."""
    return f"{user_col} {user_type}, t_ts {ts_type}, touch_id {id_type}"


ATTRIBUTION_STATE_SCHEMA = attribution_state_schema()


def streaming_attribution_ingest(
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    *,
    touches_dir: str,
    attributions_dir: str,
    conversion: str = "purchase",
    touch: str = "click",
    lookback_hours: int = 24,
):
    """foreachBatch callable: merge batch touches into state, attribute
    the batch's conversions against the merged history, append
    ``[conv_id, user, conv_ts, touch_id, gap_seconds]``.

    Seed the state dir with ``snapshot_overwrite(empty, touches_dir,
    -1)`` (schema: ``attribution_state_schema(user_col)``). Returns the callable
    for ``stream.writeStream.foreachBatch(...)``.
    """
    from meshinsights_data_pipeline_spark.operators.funnel import (
        last_touch_attribution,
    )

    def step(batch_df, epoch_id, pin, prev):
        batch_touches = (
            batch_df.filter(F.col(type_col) == touch)
            .groupBy(F.col(user_col), F.col(ts_col).alias("t_ts"))
            .agg(F.min(id_col).alias("touch_id"))
        )
        merged = (
            prev.select(user_col, "t_ts", "touch_id")
            .union(batch_touches)
            .groupBy(user_col, "t_ts")
            .agg(F.min("touch_id").alias("touch_id"))
        )
        return [merged], lambda touches: [_attribute(batch_df, touches)]

    def _attribute(batch_df: DataFrame, touches: DataFrame) -> DataFrame:
        # Reconstruct an event frame of (batch conversions + ALL touches
        # seen so far) and run the BATCH operator — streaming scores are
        # batch scores by construction, never a reimplementation drift.
        # ids keep their NATIVE type end-to-end (batch-operator contract:
        # a forced integral cast would NULL string/UUID ids silently)
        conv_ev = batch_df.filter(F.col(type_col) == conversion).select(
            F.col(id_col).alias("event_id"),
            F.col(ts_col).alias("ts"),
            F.col(user_col).alias("user_id"),
            F.lit(conversion).alias("event_type"),
        )
        touch_ev = touches.select(
            F.col("touch_id").alias("event_id"),
            F.col("t_ts").alias("ts"),
            F.col(user_col).alias("user_id"),
            F.lit(touch).alias("event_type"),
        )
        return last_touch_attribution(
            conv_ev.unionByName(touch_ev),
            "user_id",
            "ts",
            "event_type",
            "event_id",
            conversion=conversion,
            touch=touch,
            lookback_hours=lookback_hours,
        )

    return state_twin(step, [(touches_dir, None)], [attributions_dir])
