"""Incremental PMI collocation mining — the streaming twin of
``operators.text.pmi_collocations`` (the streaming_novelty_ingest /
streaming_dsir_ingest mergeable-count-table pattern).

PMI is a pure function of the bigram count table, and bigram counts SUM
across corpus slices — so unlike the forward-looking scoring twins
(novelty, LM, BM25), this twin has FULL cross-batch parity: the top-k
emitted at epoch k is bit-identical to the batch operator run over
everything ingested through epoch k, with no "as of ingest" caveat.

State = ONE mergeable count table ``[a, b, n_ab]``, bounded by the
corpus's distinct-bigram count. Summed counts are not
re-merge-idempotent, so state reads use ``snapshot_before(epoch)``;
top-k appends are exactly-once per epoch.

Scale: per-batch work is one batch tokenize/bigram pass plus a
bigram-keyed merge; scoring runs over the (small) merged count table.
The corpus is never rescanned.
"""

from __future__ import annotations

from meshinsights_data_pipeline_spark.streaming.state import (
    merge_counts,
    state_twin,
)

PMI_COUNTS_SCHEMA = "a string, b string, n_ab long"


def streaming_pmi_ingest(
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    counts_dir: str,
    topk_dir: str,
    min_count: int = 5,
    top_k: int = 100,
    round_to: int = 6,
):
    """foreachBatch callable: merge batch bigram counts into state,
    emit the merged corpus's top-k collocations ``[a, b, n_ab, pmi,
    rk]`` for this epoch.

    Seed the state dir with ``snapshot_overwrite(empty, counts_dir,
    -1)`` (schema: ``PMI_COUNTS_SCHEMA``). Returns the callable for
    ``stream.writeStream.foreachBatch(...)``.
    """
    from meshinsights_data_pipeline_spark.operators.text import (
        bigram_counts,
        pmi_from_counts,
    )

    def step(batch_df, epoch_id, pin, prev):
        batch_counts = bigram_counts(batch_df, id_col, text_col)
        merged = merge_counts(prev, batch_counts, ["a", "b"], ["n_ab"])
        return [merged], lambda counts: [
            pmi_from_counts(counts, min_count, top_k, round_to)
        ]

    return state_twin(step, [(counts_dir, PMI_COUNTS_SCHEMA)], [topk_dir])
