"""Incremental market-basket association — the streaming twin of
``operators.basket.basket_pair_stats`` (the streaming_novelty_ingest
merged-history pattern).

Each micro-batch folds its pair / item / basket counts into the
accumulated state tables, then emits association stats (support,
confidence, lift) for the pairs PRESENT IN THE BATCH, measured against
the merged (history + batch) counts. The single-batch case is
bit-identical to the batch operator; across batches the semantics are
"as of the pair's latest ingest epoch" — a pair re-observed later is
re-emitted with its updated stats, and earlier emissions are not
retro-adjusted (run the batch operator for a corpus-wide rescore), the
same documented delta as the other scoring twins.

Assumption shared with transaction streams: baskets arrive WHOLE within
one micro-batch. A basket split across batches contributes only its
within-batch pairs (and would inflate the basket count by the number of
batches it spans) — aggregate upstream if the source can split baskets.

State = three mergeable tables: ``[item_a, item_b, n_ab]`` keyed on the
pair, ``[i, n_i]`` keyed on the item, and a 1-row ``[n_baskets]`` —
bounded by the observed pair/item vocabulary, never the stream length.
Summed counts are not re-merge-idempotent, so state reads use
``snapshot_before(epoch)``; stat appends are exactly-once per epoch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.state import (
    merge_counts,
    state_twin,
)

BASKET_PAIRS_SCHEMA = "item_a long, item_b long, n_ab long"
BASKET_ITEMS_SCHEMA = "i long, n_i long"
BASKET_TOTALS_SCHEMA = "n_baskets long"


def streaming_basket_ingest(
    basket_col: str = "basket_id",
    item_col: str = "item_id",
    *,
    pairs_dir: str,
    items_dir: str,
    totals_dir: str,
    stats_dir: str,
    min_support_count: int = 2,
    round_to: int = 6,
):
    """foreachBatch callable: merge batch basket counts into state, emit
    association stats ``[item_a, item_b, n_ab, support, confidence_a_b,
    lift]`` for the batch's pairs against the merged counts.

    Seed each state dir with ``snapshot_overwrite(empty, dir, -1)``
    using the matching ``BASKET_*_SCHEMA``. Returns the callable for
    ``stream.writeStream.foreachBatch(...)``.
    """
    from meshinsights_data_pipeline_spark.operators.basket import (
        association_stats,
    )

    def step(batch_df, epoch_id, pin, prev_pairs, prev_items, prev_total):
        bi = pin(  # feeds pair, item AND basket counts
            batch_df.select(
                F.col(basket_col).alias("b"), F.col(item_col).alias("i")
            ).distinct()
        )
        a = bi.select("b", F.col("i").alias("item_a"))
        c = bi.select("b", F.col("i").alias("item_b"))
        batch_pairs = (
            a.join(c, "b")
            .filter(F.col("item_a") < F.col("item_b"))
            .groupBy("item_a", "item_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        )
        batch_items = bi.groupBy("i").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_i")
        )
        batch_total = bi.agg(
            F.countDistinct("b").cast("bigint").alias("n_baskets")
        )
        merged = [
            merge_counts(prev_pairs, batch_pairs, ["item_a", "item_b"], ["n_ab"]),
            merge_counts(prev_items, batch_items, ["i"], ["n_i"]),
            merge_counts(prev_total, batch_total, [], ["n_baskets"]),
        ]
        return merged, lambda pairs, items, total: [association_stats(
            pairs.join(
                batch_pairs.select("item_a", "item_b"), ["item_a", "item_b"],
                "left_semi",  # emit only pairs observed THIS batch
            ).filter(F.col("n_ab") >= int(min_support_count)),
            items,
            total,
            round_to,
        )]

    states = [
        (pairs_dir, BASKET_PAIRS_SCHEMA),
        (items_dir, BASKET_ITEMS_SCHEMA),
        (totals_dir, BASKET_TOTALS_SCHEMA),
    ]
    return state_twin(step, states, [stats_dir])
