"""Incremental Jensen-Shannon mix-drift monitoring — the streaming twin
of ``operators.corpus.source_js_divergence``.

The per-(source, token) count table is a mergeable sufficient statistic,
and JS depends only on the per-token (p, q) count PAIRS — invariant
under injective token renaming — so the state stores 60-bit token
hashes exactly like the entropy/drift twins (strings stay out of the
merge shuffle) and the recomputed report equals the batch operator over
everything ingested whenever the hash is injective on the observed
vocabulary (the entropy twin's probabilistic-parity caveat, ~birthday
bound 2^30 types; the KS/Benford/KM twins carry raw state and are exact
by construction). The per-epoch reports form the mix-drift time series:
a source whose JS vs the corpus climbs epoch over epoch is diverging
from the mix it is supposed to feed.

State = one versioned snapshot table ``[source, _tok(hash), _c]`` at
|source| x |vocab| cardinality — the entropy-twin state shape (the two
twins can share ingest plumbing upstream; this one exists so JS can be
recomputed without re-reading any corpus). snapshot_before(epoch) reads
keep retries idempotent; report appends are exactly-once per epoch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from meshinsights_data_pipeline_spark.streaming.state import (
    merge_counts,
    state_twin,
    with_epoch,
)


def streaming_jsd_ingest(
    stream: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    *,
    counts_dir: str,
    report_dir: str,
):
    """foreachBatch callable: merge batch (source, token-hash) counts
    into the JS state, recompute the per-source JS-vs-corpus report
    from the merged counts, append it with the epoch id.

    Seed the state dir with ``snapshot_overwrite(empty, counts_dir, -1)``
    (schema ``source string, _tok long, _c long``). Report rows are
    ``[epoch, source, n_tokens, n_types, js, js_norm]``.
    """
    from meshinsights_data_pipeline_spark.operators.corpus import (
        js_from_counts,
        source_token_counts,
    )

    def step(batch_df, epoch_id, pin, prev):
        # the batch operator's own tokenize+count stage (hashed-key
        # tier) — shared so the twin's tokenization can never drift
        # from batch semantics if the normalization changes.
        batch_counts = source_token_counts(
            batch_df, source_col, text_col, hashed=True
        )
        merged = merge_counts(prev, batch_counts, ["source", "_tok"], ["_c"])
        return [merged], lambda counts: [
            with_epoch(js_from_counts(counts, "source"), epoch_id)
        ]

    return state_twin(step, [(counts_dir, None)], [report_dir])
