"""Incremental LM quality scoring — the streaming twin of
``operators.corpus.lm_quality_score`` (SURVEY §2.10 north-star surface).

A perplexity filter over continuous ingest wants the LM to LEARN from
the stream: each micro-batch folds its token statistics into the
accumulated bigram/unigram count tables, then scores its own docs
against the merged (history + batch) model — so a batch of boilerplate
arriving for the thousandth time scores as familiar, not novel. The
single-batch case is bit-identical to the batch operator; across
batches the semantic is forward-looking (a doc's score reflects the LM
as of its ingest epoch and is not retro-scored as the model evolves —
run the batch operator for a corpus-wide re-score), the same documented
delta as streaming_span_ingest.

State = two mergeable snapshot tables (``sources.layout`` versioned
snapshots): bigram counts [h_prev, h, cb] and unigram counts [h, cu];
|V| is the unigram table's row count. Summed counts are NOT
re-merge-idempotent, so state reads use ``snapshot_before(epoch)`` —
a retried micro-batch recomputes from pre-epoch state and overwrites
its own snapshot instead of double-counting. Score appends are
exactly-once per epoch (epoch-keyed dynamic partition
overwrite).

Scale: state is vocabulary/bigram-vocabulary cardinality (the same
order as the span-ingest gram table); per-batch work is one batch token
pass plus merges keyed on 60-bit int hashes — strings never shuffle,
and the corpus is never rescanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.state import (
    merge_counts,
    state_twin,
)


def streaming_lm_ingest(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    bigram_dir: str,
    unigram_dir: str,
    scores_dir: str,
):
    """foreachBatch callable: merge batch n-gram counts into the LM state,
    score the batch docs against the merged model, append scores.

    Seed both state dirs with ``snapshot_overwrite(empty, dir, -1)``
    (schemas: ``h_prev long, h long, cb long`` / ``h long, cu long``).
    Returns the callable for ``stream.writeStream.foreachBatch(...)``.
    """
    from meshinsights_data_pipeline_spark.operators.corpus import (
        lm_bigrams_from_text,
        lm_score_bigrams,
        lm_token_hashes,
    )

    def step(batch_df, epoch_id, pin, prev_bc, prev_uc):
        # r16: bigrams map-side from the batch text (no per-doc lag
        # window); the token hashes feed only the unigram counts.
        bigrams = pin(lm_bigrams_from_text(batch_df, id_col, text_col))
        batch_uc = (
            lm_token_hashes(batch_df, id_col, text_col)
            .groupBy("h")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cu"))
        )
        batch_bc = bigrams.groupBy("h_prev", "h").agg(
            F.count(F.lit(1)).cast("bigint").alias("cb")
        )
        merged = [
            merge_counts(prev_bc, batch_bc, ["h_prev", "h"], ["cb"]),
            merge_counts(prev_uc, batch_uc, ["h"], ["cu"]),
        ]
        return merged, lambda bc, uc: [lm_score_bigrams(
            bigrams,
            bc,
            uc.withColumnRenamed("h", "h_prev"),
            uc.agg(F.count(F.lit(1)).alias("vsz")),
            id_col,
        )]

    return state_twin(
        step, [(bigram_dir, None), (unigram_dir, None)], [scores_dir]
    )
