"""Streaming exact deduplication — the streaming twin of
operators.dedup.exact_dedup for continuous ingest pipelines.

Design notes (100 TB / unbounded):
- ``dropDuplicatesWithinWatermark`` keys state on the normalized-text
  fingerprint only; a duplicate arriving within the watermark horizon of
  its first sighting is dropped, and fingerprint state is evicted once the
  watermark passes — so state size tracks the ingest window, not corpus
  history. That is the only sound contract on an unbounded stream: exact
  forever-dedup would need unbounded state (do periodic batch exact_dedup
  compaction over the sink for the long tail).
- Emission is immediate (dedup is not a windowed aggregate): first-seen
  rows flow through in append mode with no watermark-close latency.
- Semantic delta vs batch (documented, by design): the batch op keeps the
  MIN id per fingerprint; the streaming op keeps the FIRST ARRIVAL. The
  surviving fingerprint SET is identical — parity tests compare that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.state import (
    merge_counts,
    state_twin,
)

from meshinsights_data_pipeline_spark.operators.text import fingerprint


def streaming_exact_dedup(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first-arriving row per normalized-text fingerprint within
    the watermark horizon. Returns [id, ts, fp]."""
    fp = stream.select(id_col, ts_col, fingerprint(text_col).alias("fp"))
    return fp.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(["fp"])


def streaming_lsh_ingest(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    *,
    signature_dir: str,
    pairs_dir: str,
    labels_dir: str | None = None,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_fn=None,
):
    """Incremental near-dup candidate detection for a continuous ingest
    stream — the streaming twin of ``operators.dedup.minhash_lsh_candidates``.

    ``shingle_fn`` optionally swaps the shingle source: a callable
    ``(batch_df) -> [id, h]`` (e.g. byte shingles from
    ``multimodal.payload_shingle_hashes`` — see
    ``streaming_payload_lsh_ingest``); default is word-``n``-gram text
    shingles from ``text_col``.

    ``signature_dir`` is the accumulated banded-signature TABLE. Seed it
    with the existing corpus via ``idempotent_epoch_append(
    banded_signatures(corpus, ...), signature_dir, epoch_id=-1)`` (an
    empty frame with the right schema for a cold start) — the table is
    epoch-partitioned, and a plain flat ``banded_signatures(...).write``
    seed would collide with the first batch's ``_epoch=...`` directories
    (mixed flat+partitioned layout fails partition discovery; the first
    append rejects it). Each micro-batch, inside
    ``foreachBatch`` (batch semantics — the signature window functions
    are unsupported on streaming frames):

    1. band the new docs (one grouped min-aggregate over the micro-batch),
    2. join new-vs-TABLE on (band, sig) + a new-vs-new self-join, so a
       pair is found whether its members arrive in the same batch,
       different batches, or pre-exist in the corpus,
    3. append candidate pairs [id_a, id_b] (a < b, distinct-per-batch) to
       ``pairs_dir``, then append the new signatures to ``signature_dir``.

    With ``labels_dir`` set, the batch's new pairs are additionally folded
    into the accumulated ``[id, cluster_id]`` component labeling
    (incremental cluster maintenance): the pre-epoch labels are read, the
    new edges merged via ``operators.components.incremental_components``
    (label stars ∪ new pairs -> bounded min-label pass), and a NEW
    snapshot is written — so a restart resumes from current labels instead
    of re-running batch CC over every pair ever emitted. The labels table
    uses ``sources.layout`` versioned snapshot directories
    (``labels_dir/_v=<epoch>/``) rather than
    rewriting one path in place: an in-place ``mode("overwrite")`` deletes
    the old files before the new job commits, so a crash in that window
    silently loses the accumulated labeling; with snapshots a crashed
    write has no ``_SUCCESS`` marker and readers keep the last committed
    version. Seed ``labels_dir`` with ``snapshot_overwrite(batch_cc_df,
    labels_dir, version=-1)`` (an empty [id BIGINT, cluster_id BIGINT]
    frame for a cold start).

    Scale notes: the per-batch work is micro-batch x bucket-mates — never
    table^2; the (band, sig) join is broadcast-eligible while batches are
    small and AQE-planned once they are not. Both appends are epoch-keyed
    dynamic partition overwrites (``streaming.state``), so a retried
    micro-batch REPLACES its own files and the sink is exactly-once per
    epoch; expect an ``_epoch`` partition column when reading the tables.

    Returns a callable for ``stream.writeStream.foreachBatch(...)``; the
    caller owns trigger/checkpoint wiring.
    """
    from meshinsights_data_pipeline_spark.operators.components import (
        incremental_components,
    )
    from meshinsights_data_pipeline_spark.operators.dedup import banded_signatures

    def step(batch_df, epoch_id, pin, *labels):
        nb = pin(
            banded_signatures(
                batch_df,
                id_col,
                text_col,
                n=n,
                num_hashes=num_hashes,
                bands=bands,
                shingles=shingle_fn(batch_df) if shingle_fn else None,
            )
        )
        existing = batch_df.sparkSession.read.parquet(signature_dir).select(
            "band", "sig", id_col
        )
        vs_table = (
            nb.alias("s")
            .join(existing.alias("c"), ["band", "sig"])
            .filter(F.col(f"s.{id_col}") != F.col(f"c.{id_col}"))
            .select(
                F.least(F.col(f"s.{id_col}"), F.col(f"c.{id_col}")).alias("id_a"),
                F.greatest(F.col(f"s.{id_col}"), F.col(f"c.{id_col}")).alias("id_b"),
            )
        )
        intra = (
            nb.alias("a")
            .join(nb.alias("b"), ["band", "sig"])
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
            )
        )
        # Materialized once: appended to the pair log AND (optionally)
        # folded into the labels table.
        new_pairs = pin(vs_table.union(intra).distinct())
        merged = [
            incremental_components(prev.select("id", "cluster_id"), new_pairs)
            for prev in labels
        ]
        return merged, [new_pairs, nb]

    states = [] if labels_dir is None else [(labels_dir, None)]
    return state_twin(step, states, [pairs_dir, signature_dir])


def streaming_span_ingest(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    *,
    counts_dir: str,
    spans_dir: str,
    n: int = 5,
    min_docs: int = 2,
):
    """Incremental cross-document duplicate-span detection — the streaming
    twin of ``operators.corpus.duplicate_spans`` (ExactSubstr-style span
    dedup) for continuous ingest.

    ``counts_dir`` is the accumulated per-gram distinct-doc-count table
    ([h BIGINT, n_docs BIGINT]) maintained as ``sources.layout``
    versioned snapshots — seed it with
    ``snapshot_overwrite(counts_of_existing_corpus, counts_dir, -1)`` (an
    empty frame for a cold start). Each micro-batch, inside
    ``foreachBatch``:

    1. hash the batch docs' positional word-n-grams (one localCheckpointed
       pass, same frame the batch operator shares),
    2. merge the batch's per-gram doc counts into the table — READ VIA
       ``snapshot_before(epoch)``, never ``latest_snapshot``: summed
       counts are NOT re-merge-idempotent, and on a retry the latest
       committed snapshot can be this epoch's own earlier attempt
       (double-count). Reading strictly below the epoch makes every
       attempt a pure function of (pre-epoch state, batch),
    3. emit merged [id, span_start, span_end, dup_grams] spans for the
       BATCH docs whose grams now reach ``min_docs`` distinct documents
       (history + batch combined), and append them to ``spans_dir``.

    Semantic delta vs batch (by design, documented): emission is
    forward-looking — a PRE-EXISTING doc's span that becomes duplicated
    only when a later doc arrives is not retro-emitted (its gram counts
    do rise, so every subsequent arrival sees it); run the batch operator
    over the corpus for retroactive audits. For docs all of whose
    duplicate partners arrived no later than they did, emitted spans are
    bit-identical to the batch operator's — the parity the tests pin.

    Scale notes: state is gram-cardinality (the n-gram vocabulary), the
    same order as the LSH signature table; per-batch work is one
    micro-batch gram pass + a gram-keyed join against the counts table.
    Span appends are epoch-keyed (exactly-once per epoch), mirroring the
    counts snapshot's version floor — a micro-batch retry must not
    re-append identical span rows.
    Docs are assumed to arrive once (dedup the stream upstream with
    ``streaming_exact_dedup`` otherwise — a re-arriving doc would count
    itself as its own duplicate).

    Returns a callable for ``stream.writeStream.foreachBatch(...)``; the
    caller owns trigger/checkpoint wiring.
    """
    from meshinsights_data_pipeline_spark.operators.corpus import (
        merge_hit_spans,
        positional_shingle_hashes,
    )

    def step(batch_df, epoch_id, pin, prev):
        bg = pin(  # consumed by counts merge + span join + hits
            positional_shingle_hashes(batch_df, id_col, text_col, n)
        )
        batch_counts = (
            bg.select("h", id_col)
            .distinct()
            .groupBy("h")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        )
        merged = merge_counts(prev, batch_counts, ["h"], ["n_docs"])

        def spans(counts: DataFrame) -> list[DataFrame]:
            dup = counts.filter(F.col("n_docs") >= min_docs).select("h")
            hits = bg.join(dup, "h").select(F.col(id_col), F.col("pos"))
            return [merge_hit_spans(hits, id_col, n)]

        return [merged], spans

    return state_twin(step, [(counts_dir, None)], [spans_dir])


def streaming_payload_lsh_ingest(
    stream: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    *,
    signature_dir: str,
    pairs_dir: str,
    labels_dir: str | None = None,
    n_bytes: int = 8,
    stride: int = 4,
    num_hashes: int = 16,
    bands: int = 4,
):
    """Incremental BINARY near-dup detection — ``streaming_lsh_ingest``
    over byte shingles (``multimodal.payload_shingle_hashes``): media
    dedup without decode for a continuous ingest stream. Same signature
    table / pair log / optional incremental cluster labels, same
    exactly-once epoch contract; only the shingle source differs, so
    batch/stream parity follows from the batch operator's own parity
    (payload_neardup_pairs shares the identical shingle + banding
    chain)."""
    from meshinsights_data_pipeline_spark.operators.multimodal import (
        payload_shingle_hashes,
    )

    return streaming_lsh_ingest(
        stream,
        id_col,
        payload_col,
        signature_dir=signature_dir,
        pairs_dir=pairs_dir,
        labels_dir=labels_dir,
        num_hashes=num_hashes,
        bands=bands,
        shingle_fn=lambda d: payload_shingle_hashes(
            d, id_col, payload_col, n_bytes, stride
        ),
    )
