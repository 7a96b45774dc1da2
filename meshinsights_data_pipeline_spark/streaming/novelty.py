"""Incremental n-gram novelty scoring — the streaming twin of
``operators.corpus.gram_novelty`` (the streaming_lm_ingest /
streaming_bm25_ingest pattern).

Novelty over continuous ingest: a document's unique-gram fraction is
measured against everything ingested so far — each micro-batch folds
its per-gram distinct-doc counts into the accumulated count table, then
scores its own docs against the merged (history + batch) counts. The
single-batch case is bit-identical to the batch operator; across
batches the semantic is forward-looking ("novel as of its ingest
epoch": a gram that later becomes common does not retro-lower earlier
docs' scores — run the batch operator for a corpus-wide rescore), the
same documented delta as the other scoring twins.

State = ONE mergeable count table ``[h, n_docs]`` keyed on the 60-bit
gram hash — the same shape streaming_span_ingest maintains, and like it
bounded by the corpus's distinct-gram count, not its length. Summed
counts are not re-merge-idempotent, so state reads use
``snapshot_before(epoch)``; score appends are exactly-once per epoch.

Scale: per-batch work is one batch shingle pass plus a gram-keyed merge
and join. The corpus is never rescanned.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.state import (
    merge_counts,
    state_twin,
)

NOVELTY_COUNTS_SCHEMA = "h long, n_docs long"


def streaming_novelty_ingest(
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    counts_dir: str,
    scores_dir: str,
    n: int = 3,
    round_to: int = 6,
):
    """foreachBatch callable: merge batch gram counts into state, score
    the batch docs' novelty against the merged counts, append scores
    ``[id, n_grams, novel_frac]``.

    Seed the state dir with ``snapshot_overwrite(empty, counts_dir, -1)``
    (schema: ``NOVELTY_COUNTS_SCHEMA``). Returns the callable for
    ``stream.writeStream.foreachBatch(...)``.
    """
    from meshinsights_data_pipeline_spark.operators.dedup import (
        shingle_hashes,
    )

    def step(batch_df, epoch_id, pin, prev):
        sh = pin(  # feeds the counts merge AND the score join
            shingle_hashes(batch_df, id_col, text_col, n).select(id_col, "h")
        )
        batch_counts = sh.groupBy("h").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs")
        )
        merged = merge_counts(prev, batch_counts, ["h"], ["n_docs"])
        return [merged], lambda counts: [
            sh.join(counts, "h")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_grams"),
                F.round(
                    F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
                    / F.count(F.lit(1)),
                    round_to,
                ).alias("novel_frac"),
            )
        ]

    return state_twin(step, [(counts_dir, NOVELTY_COUNTS_SCHEMA)], [scores_dir])
