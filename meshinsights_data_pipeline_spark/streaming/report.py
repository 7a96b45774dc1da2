"""Incremental per-source corpus report card — the streaming twin of
``operators.corpus.corpus_report`` (SURVEY §2.10 north-star surface).

A dataset card must stay current while ingest runs; recomputing the batch
report over the accumulated corpus per micro-batch is a full rescan. The
streaming form keeps TWO mergeable state tables as ``sources.layout``
versioned snapshots and derives the report from state alone:

- ``fp_counts_dir``: [source, fp, n_docs] — docs per (source, exact-dedup
  fingerprint). Fingerprint-cardinality state (the same order as the LSH
  signature table); yields both n_docs (sum) and n_distinct (row count),
  so the report's duplicate fraction is EXACT across batches — a plain
  per-source distinct counter cannot merge, a fingerprint-level count can.
- ``totals_dir``: [source, total_tokens, sum_quality] — additive exact
  token totals and the DECIMAL quality sum (float sums are
  partition-order-dependent; the batch operator makes the same choice).

Summed state is NOT re-merge-idempotent, so each micro-batch reads state
via ``snapshot_before(epoch)`` — never ``latest_snapshot`` — making every
attempt a pure function of (pre-epoch state, batch); a retried epoch
overwrites its own earlier snapshot instead of double-counting (the
pattern proven by streaming_span_ingest / streaming_lsh_ingest).

Docs are assumed to arrive once (dedup upstream with
streaming_exact_dedup otherwise — a re-arriving doc would inflate
n_docs while the fingerprint table absorbs it, skewing dup_frac).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.state import (
    merge_counts,
    state_twin,
)


def streaming_report_ingest(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    *,
    fp_counts_dir: str,
    totals_dir: str,
):
    """foreachBatch callable maintaining the report state tables.

    Per batch: one map-side pass computes (fingerprint, token count,
    quality) per doc, then two small merges — (source, fp) counts and
    per-source totals — each read via the pre-epoch version floor and
    re-written as snapshot ``epoch``. Work per batch is O(batch) map-side
    plus two merges keyed on (source, fp) / source; the corpus itself is
    never rescanned.
    """
    from meshinsights_data_pipeline_spark.operators.text import (
        fingerprint,
        token_count,
        with_quality_score,
    )

    def step(batch_df, epoch_id, pin, prev_fp, prev_tot):
        per_doc = pin(  # consumed by both merges; one batch pass
            with_quality_score(batch_df, text_col, out_col="_wq").select(
                F.col(source_col).alias("source"),
                fingerprint(F.col(text_col)).alias("fp"),
                token_count(text_col).cast("bigint").alias("_tok"),
                F.col("_wq").cast("decimal(18,6)").alias("_q"),
            )
        )
        batch_fp = per_doc.groupBy("source", "fp").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs")
        )
        batch_tot = per_doc.groupBy("source").agg(
            F.sum("_tok").cast("bigint").alias("total_tokens"),
            F.sum("_q").cast("decimal(28,6)").alias("sum_quality"),
        )
        merged_tot = (
            prev_tot.select("source", "total_tokens", "sum_quality")
            .union(batch_tot)
            .groupBy("source")
            .agg(
                F.sum("total_tokens").cast("bigint").alias("total_tokens"),
                F.sum("sum_quality").cast("decimal(28,6)").alias("sum_quality"),
            )
        )
        merged_fp = merge_counts(prev_fp, batch_fp, ["source", "fp"], ["n_docs"])
        return [merged_fp, merged_tot], []

    return state_twin(step, [(fp_counts_dir, None), (totals_dir, None)], [])


def report_from_state(
    spark: SparkSession, *, fp_counts_dir: str, totals_dir: str
) -> DataFrame:
    """The current report card from the two state tables — schema- and
    value-identical to ``corpus_report`` (exact tier) over every doc
    ingested so far: [source, n_docs, total_tokens, avg_tokens,
    mean_quality, n_distinct, dup_frac]. State-sized work only."""
    from meshinsights_data_pipeline_spark.sources.layout import latest_snapshot

    fp = latest_snapshot(spark, fp_counts_dir)
    tot = latest_snapshot(spark, totals_dir)
    per_source = fp.groupBy("source").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    return (
        per_source.join(tot, "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            (F.col("total_tokens").cast("double") / F.col("n_docs")).alias(
                "avg_tokens"
            ),
            F.round(
                F.col("sum_quality").cast("double") / F.col("n_docs"), 6
            ).alias("mean_quality"),
            F.least(F.col("n_docs"), F.col("n_distinct")).alias("n_distinct"),
            (
                (F.col("n_docs") - F.least(F.col("n_docs"), F.col("n_distinct")))
                .cast("double")
                / F.col("n_docs")
            ).alias("dup_frac"),
        )
    )
