"""Structured Streaming parity tests (SURVEY §2.10).

Strategy: copy a bounded slice of the events table to a temp dir as ONE
parquet file, read it back with readStream, run the streaming operator in
update mode with foreachBatch collecting emitted rows, and compare against
the batch twin computed with plain DataFrame ops on the same data. A single
input file -> a single micro-batch -> every final aggregate is emitted
exactly once, so the comparison is exact.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.operators.weekly import sunday_week_start
from meshinsights_data_pipeline_spark.session import read_table
from meshinsights_data_pipeline_spark.streaming import (
    streaming_session_window,
    streaming_sunday_weekly_stats,
)
from tests.streaming_checks import released_each_epoch

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bounded_stream_dir(spark, tmp_path_factory):
    """Events plus one far-future '__flush__' row: in append mode the
    watermark only passes a session/window once later data arrives, so the
    flush row finalizes every REAL aggregate (its own stays pending and is
    excluded from comparisons)."""
    out = str(tmp_path_factory.mktemp("stream_src") / "events")
    ev = read_table(spark, SF_DIR, "events")
    flush = ev.limit(1).select(
        F.lit(-1).alias("event_id"),
        (F.lit(None).cast("timestamp")).alias("ts"),
        F.lit(-1).alias("user_id"),
        F.lit("__flush__").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    ).withColumn("ts", F.expr("timestamp'2030-01-01 00:00:00'"))
    ev.select("event_id", "ts", "user_id", "event_type", "value", "props").union(
        flush
    ).coalesce(1).write.mode("overwrite").parquet(out)
    return out


def _run_stream(spark, stream_df, tmp_path, mode):
    """Execute a bounded stream; return collected rows. No-data micro-batches
    (on by default) flush watermark-finalized state after the single data
    batch, so append mode emits everything the flush row unblocks."""
    batches = []
    q = (
        stream_df.writeStream.outputMode(mode)
        .foreachBatch(lambda df, _id: batches.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return [r for b in batches for r in b]


def _canon(rows, cols):
    return sorted(tuple(str(r[c]) for c in cols) for r in rows)


def test_session_window_parity_with_batch(spark, bounded_stream_dir, tmp_path):
    schema = spark.read.parquet(bounded_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(bounded_stream_dir)

    gap_s = 1800
    streamed = _run_stream(
        spark,
        streaming_session_window(
            stream, ["user_id"], ts_col="ts", value_col="value", gap="30 minutes"
        ),
        tmp_path,
        mode="append",
    )
    streamed = [r for r in streamed if r["user_id"] != -1]

    # Batch twin: gap-based sessionization via lag + running sum.
    ev = spark.read.parquet(bounded_stream_dir).filter(F.col("user_id") != -1)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_flag = (
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long") > gap_s,
            1,
        )
        .otherwise(0)
    )
    sess = ev.withColumn("sid", F.sum(gap_flag).over(w))
    batch = (
        sess.groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
            F.count(F.lit(1)).alias("cnt"),
            F.median("value").alias("median_value"),
        )
        .drop("sid")
    )

    cols = ["user_id", "session_start", "session_end", "cnt", "median_value"]
    assert len(streamed) > 0
    assert _canon(streamed, cols) == _canon(batch.collect(), cols)


def test_sunday_weekly_parity_with_batch(spark, bounded_stream_dir, tmp_path):
    schema = spark.read.parquet(bounded_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(bounded_stream_dir)

    streamed = _run_stream(
        spark,
        streaming_sunday_weekly_stats(stream, "event_type", ts_col="ts", value_col="value"),
        tmp_path,
        mode="update",
    )
    streamed = [r for r in streamed if r["event_type"] != "__flush__"]

    ev = spark.read.parquet(bounded_stream_dir).filter(F.col("event_type") != "__flush__")
    batch = (
        ev.groupBy(
            sunday_week_start(F.col("ts")).cast("timestamp").alias("wk_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("value"), 0).alias("mean_v"),
            F.round(F.median("value"), 0).alias("med_v"),
            F.round(F.stddev_pop("value"), 0).alias("sd"),
        )
    )

    cols = ["wk_start", "event_type", "cnt", "mean_v", "med_v", "sd"]
    assert len(streamed) > 0
    # Window starts must land exactly on the batch Sunday week keys.
    assert _canon(streamed, cols) == _canon(batch.collect(), cols)


def test_state_change_sessionization_parity(spark, bounded_stream_dir, tmp_path):
    """The applyInPandasWithState twin must reproduce the batch sessionize
    cycle ids exactly on a bounded in-order stream."""
    from meshinsights_data_pipeline_spark.operators.sessionize import sessionize
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_state_change_sessions,
    )

    schema = spark.read.parquet(bounded_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(bounded_stream_dir)

    streamed = _run_stream(
        spark,
        streaming_state_change_sessions(
            stream, ["user_id"], "event_type", "ts", tiebreak_col="event_id"
        ),
        tmp_path,
        mode="append",
    )
    got = {r["event_id"]: r["cycle"] for r in streamed if r["user_id"] != -1}

    ev = spark.read.parquet(bounded_stream_dir).filter(F.col("user_id") != -1)
    batch = sessionize(ev, "event_type", ["ts", "event_id"], ["user_id"])
    expected = {r["event_id"]: r["cycle"] for r in batch.collect()}

    assert len(got) == len(expected) and len(got) > 0
    assert got == expected


def test_streaming_exact_dedup_parity(spark, tmp_path):
    """Streaming dedup keeps the first arrival per fingerprint; the batch op
    keeps the min id. The surviving fingerprint SET must be identical, and
    the streamed survivor count must equal the batch survivor count."""
    from meshinsights_data_pipeline_spark.operators.dedup import exact_dedup
    from meshinsights_data_pipeline_spark.streaming import streaming_exact_dedup

    src = str(tmp_path / "docs_src")
    docs = read_table(spark, SF_DIR, "documents").select(
        "doc_id",
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)").alias("ts"),
        "text",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    streamed = _run_stream(
        spark,
        streaming_exact_dedup(stream, "doc_id", "text", ts_col="ts"),
        tmp_path,
        mode="append",
    )

    batch = exact_dedup(spark.read.parquet(src), "doc_id", "text").collect()
    assert len(streamed) == len(batch) > 0
    assert {r["fp"] for r in streamed} == {r["fp"] for r in batch}


def test_streaming_lsh_ingest_parity(spark, tmp_path):
    """Seed the signature table with half the corpus, stream the other half
    in several micro-batches: accumulated candidate pairs must equal the
    batch LSH candidates over the full corpus, minus seed-vs-seed pairs
    (those pre-date the stream) — i.e. every pair involving a streamed doc
    is found regardless of which micro-batch its members arrived in."""
    from meshinsights_data_pipeline_spark.operators.dedup import (
        banded_signatures,
        minhash_lsh_candidates,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        idempotent_epoch_append,
        latest_snapshot,
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import streaming_lsh_ingest

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    seed = docs.filter(F.col("doc_id") % 2 == 0)
    arriving = docs.filter(F.col("doc_id") % 2 == 1)

    sig_dir = str(tmp_path / "signatures")
    pairs_dir = str(tmp_path / "pairs")
    src = str(tmp_path / "src")
    # idempotent=True default: the signature table is epoch-partitioned,
    # so the seed goes in via idempotent_epoch_append (epoch -1).
    idempotent_epoch_append(
        banded_signatures(seed, "doc_id", "text"), sig_dir, -1
    )
    # 4 input files -> maxFilesPerTrigger=1 forces 4 micro-batches
    arriving.repartition(4).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            streaming_lsh_ingest(
                stream, "doc_id", "text", signature_dir=sig_dir, pairs_dir=pairs_dir
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(pairs_dir).distinct().collect()
    }
    full = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(docs, "doc_id", "text").collect()
    }
    seed_only = {
        (a, b) for a, b in full if a % 2 == 0 and b % 2 == 0
    }
    assert len(got) > 0
    assert got == full - seed_only


def test_streaming_cluster_maintenance_parity(spark, tmp_path):
    """With labels_dir set, the accumulated [id, cluster_id] table after
    all micro-batches must equal batch connected_components over the full
    accumulated pair set (seed pairs + every streamed pair) — i.e. the
    incremental star-merge loses nothing across batch boundaries."""
    from meshinsights_data_pipeline_spark.operators.components import (
        connected_components,
    )
    from meshinsights_data_pipeline_spark.operators.dedup import (
        banded_signatures,
        minhash_lsh_candidates,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        idempotent_epoch_append,
        latest_snapshot,
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import streaming_lsh_ingest

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    seed = docs.filter(F.col("doc_id") % 2 == 0)
    arriving = docs.filter(F.col("doc_id") % 2 == 1)

    sig_dir = str(tmp_path / "signatures")
    pairs_dir = str(tmp_path / "pairs")
    labels_dir = str(tmp_path / "labels")
    src = str(tmp_path / "src")
    idempotent_epoch_append(
        banded_signatures(seed, "doc_id", "text"), sig_dir, -1
    )
    seed_pairs = minhash_lsh_candidates(seed, "doc_id", "text").localCheckpoint()
    snapshot_overwrite(connected_components(seed_pairs), labels_dir, version=-1)
    arriving.repartition(4).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            streaming_lsh_ingest(
                stream, "doc_id", "text",
                signature_dir=sig_dir, pairs_dir=pairs_dir, labels_dir=labels_dir,
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r.id, r.cluster_id)
        for r in latest_snapshot(spark, labels_dir).collect()
    }
    all_pairs = seed_pairs.unionByName(
        spark.read.parquet(pairs_dir).select("id_a", "id_b")
    ).distinct()
    want = {
        (r.id, r.cluster_id)
        for r in connected_components(all_pairs).collect()
    }
    assert len(got) > 0
    assert got == want


def test_map_side_corpus_ops_streaming_transparent(spark, tmp_path):
    """The map-side corpus operators (Gopher quality, PII redaction) are
    pure column expressions, so the SAME operator code runs unchanged on
    a streaming frame — no twin needed. Parity: streaming output over a
    bounded stream equals the batch operator on the same data."""
    from meshinsights_data_pipeline_spark.operators.corpus import gopher_quality
    from meshinsights_data_pipeline_spark.operators.text import redact_pii

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    streamed_plan = gopher_quality(stream, "doc_id", "text").withColumn(
        "red", redact_pii(F.col("doc_id").cast("string"))
    )
    assert streamed_plan.isStreaming
    got: list = []
    q = (
        streamed_plan.writeStream.foreachBatch(
            lambda b, _e: got.extend(b.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = gopher_quality(docs, "doc_id", "text").withColumn(
        "red", redact_pii(F.col("doc_id").cast("string"))
    ).collect()
    assert len(got) == len(batch) > 0
    assert {tuple(r) for r in got} == {tuple(r) for r in batch}


def test_lsh_ingest_idempotent_epoch_retry(spark, tmp_path):
    """With idempotent=True, re-running the SAME micro-batch (Structured
    Streaming's retry semantics: same epoch id) must replace its own
    output rather than duplicate it — pairs, signatures and labels all
    end up identical to the single-run result."""
    from meshinsights_data_pipeline_spark.operators.components import (
        connected_components,
    )
    from meshinsights_data_pipeline_spark.operators.dedup import (
        banded_signatures,
        minhash_lsh_candidates,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        idempotent_epoch_append,
        latest_snapshot,
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import streaming_lsh_ingest

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    seed = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)

    sig_dir = str(tmp_path / "signatures")
    pairs_dir = str(tmp_path / "pairs")
    labels_dir = str(tmp_path / "labels")
    idempotent_epoch_append(banded_signatures(seed, "doc_id", "text"), sig_dir, -1)
    seed_pairs = minhash_lsh_candidates(seed, "doc_id", "text").localCheckpoint()
    snapshot_overwrite(connected_components(seed_pairs), labels_dir, version=-1)

    process = streaming_lsh_ingest(
        batch, "doc_id", "text",
        signature_dir=sig_dir, pairs_dir=pairs_dir, labels_dir=labels_dir,
    )
    process(batch, 0)
    first_pairs = sorted(
        (r.id_a, r.id_b) for r in spark.read.parquet(pairs_dir).collect()
    )
    first_sigs = spark.read.parquet(sig_dir).count()
    first_labels = sorted(
        (r.id, r.cluster_id) for r in latest_snapshot(spark, labels_dir).collect()
    )
    # Simulated retry: same batch, same epoch.
    process(batch, 0)
    assert sorted(
        (r.id_a, r.id_b) for r in spark.read.parquet(pairs_dir).collect()
    ) == first_pairs
    assert spark.read.parquet(sig_dir).count() == first_sigs
    assert sorted(
        (r.id, r.cluster_id) for r in latest_snapshot(spark, labels_dir).collect()
    ) == first_labels
    assert len(first_pairs) == len(set(first_pairs))  # no duplicates at all


def test_streaming_pq_ingest_parity_and_retry(spark, tmp_path):
    """Accumulated PQ codes after streaming ingest must be bit-identical
    to a batch pq_encode rebuild over the same vectors (fixed codebooks,
    deterministic encode), and with the idempotent default a retried
    epoch replaces rather than duplicates its rows."""
    from meshinsights_data_pipeline_spark.operators.similarity import pq_encode
    from meshinsights_data_pipeline_spark.sources.layout import (
        idempotent_epoch_append,
    )
    from meshinsights_data_pipeline_spark.streaming import streaming_pq_ingest

    emb = read_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    seed = emb.filter(F.col("vec_id") % 2 == 0)
    arriving = emb.filter(F.col("vec_id") % 2 == 1)

    codes_dir = str(tmp_path / "codes")
    src = str(tmp_path / "src")
    idempotent_epoch_append(pq_encode(seed), codes_dir, -1)
    arriving.repartition(2).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            streaming_pq_ingest(stream, codes_dir=codes_dir)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r.vec_id, tuple(r.codes))
        for r in spark.read.parquet(codes_dir).select("vec_id", "codes").collect()
    }
    want = {
        (r.vec_id, tuple(r.codes)) for r in pq_encode(emb).collect()
    }
    assert got == want and len(got) > 0

    # retry: re-running an epoch must not change the table
    process = streaming_pq_ingest(arriving, codes_dir=codes_dir)
    process = released_each_epoch(spark, process)
    process(arriving.limit(5), 99)
    once = spark.read.parquet(codes_dir).count()
    process(arriving.limit(5), 99)
    assert spark.read.parquet(codes_dir).count() == once


def test_streaming_ivf_ingest_parity(spark, tmp_path):
    """Accumulated (vec -> list) assignments after streaming ingest must
    equal a batch ivf_assign rebuild over the same vectors, and a search
    over the accumulated tables must equal the direct batch search."""
    from meshinsights_data_pipeline_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
    )
    from meshinsights_data_pipeline_spark.streaming import streaming_ivf_ingest

    emb = read_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    centroids = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    arriving = emb.filter(F.col("vec_id") >= 16)

    lists_dir = str(tmp_path / "lists")
    vectors_dir = str(tmp_path / "vectors")
    src = str(tmp_path / "src")
    arriving.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            streaming_ivf_ingest(
                stream, centroids, lists_dir=lists_dir, vectors_dir=vectors_dir
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r.vec_id, r.list_id)
        for r in spark.read.parquet(lists_dir).collect()
    }
    want = {
        (r.vec_id, r.list_id)
        for r in ivf_assign(arriving, centroids).collect()
    }
    assert len(got) > 0
    assert got == want

    queries = emb.filter(F.col("vec_id") < 4)
    acc_vectors = spark.read.parquet(vectors_dir)
    search_acc = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_topk(acc_vectors, queries, centroids, k=5).collect()
    }
    search_direct = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_topk(arriving, queries, centroids, k=5).collect()
    }
    assert search_acc == search_direct and len(search_acc) > 0


def test_streaming_funnel_parity(spark, tmp_path):
    """Per-user funnel progression must survive micro-batch boundaries:
    events are fed in three event-time-ordered micro-batches (file source
    processes oldest file first), so most users' view/click/purchase steps
    arrive in different batches; final max(step_reached) per user must
    equal the batch operator's."""
    import time as _time

    from meshinsights_data_pipeline_spark.operators.funnel import funnel_times
    from meshinsights_data_pipeline_spark.streaming import streaming_funnel

    steps = ["view", "click", "purchase"]
    ev = read_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = str(tmp_path / "ev_src")
    bounds = ev.selectExpr(
        "percentile_approx(ts, 0.33) AS a", "percentile_approx(ts, 0.66) AS b"
    ).collect()[0]
    for i, part in enumerate([
        ev.filter(F.col("ts") <= bounds.a),
        ev.filter((F.col("ts") > bounds.a) & (F.col("ts") <= bounds.b)),
        ev.filter(F.col("ts") > bounds.b),
    ]):
        part.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct mtimes -> oldest-first processing order

    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    streamed = _run_stream(
        spark,
        streaming_funnel(stream, "user_id", "ts", "event_type", steps),
        tmp_path,
        mode="append",
    )
    got: dict = {}
    for r in streamed:
        got[r["user"]] = max(got.get(r["user"], 0), r["step_reached"])

    expected = {
        r["user_id"]: r["step_reached"]
        for r in funnel_times(
            spark.read.parquet(src), "user_id", "ts", "event_type", steps
        ).collect()
    }
    assert len(expected) > 0
    assert got == expected


def test_streaming_weekly_active_users_parity(spark, bounded_stream_dir, tmp_path):
    """Exact streaming weekly active users (dropDuplicates -> windowed
    count, two chained stateful ops) must equal the batch distinct
    (user, sunday_week) counts."""
    from meshinsights_data_pipeline_spark.operators.weekly import (
        sunday_week_start,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_weekly_active_users,
    )

    schema = spark.read.parquet(bounded_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(bounded_stream_dir)
    streamed = _run_stream(
        spark,
        streaming_weekly_active_users(stream, "user_id", ts_col="ts"),
        tmp_path,
        mode="append",
    )
    got = {str(r["wk_start"].date()): r["active_users"] for r in streamed
           if r["wk_start"].year < 2029}  # flush-row window excluded

    ev = spark.read.parquet(bounded_stream_dir).filter(F.col("user_id") != -1)
    expected = {
        str(r["wk"]): r["n"]
        for r in ev.select(
            sunday_week_start(F.col("ts")).alias("wk"), "user_id"
        ).distinct().groupBy("wk").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert len(expected) > 0
    assert got == expected


def test_streaming_span_ingest_forward_parity(spark, tmp_path):
    """Docs constructed so sharing is strictly backward (each later doc
    shares a phrase only with an earlier one): streamed in arrival order,
    the emitted spans for later-arriving docs are bit-identical to the
    batch operator restricted to those docs, and nothing is emitted for
    a doc before its duplicate partner exists."""
    from meshinsights_data_pipeline_spark.operators.corpus import duplicate_spans
    from meshinsights_data_pipeline_spark.sources.layout import snapshot_overwrite
    from meshinsights_data_pipeline_spark.streaming import streaming_span_ingest

    phrase_a = "alpha beta gamma delta epsilon zeta eta"
    phrase_b = "one two three four five six"
    b1 = spark.createDataFrame(
        [(1, f"{phrase_a} filler text here"), (2, f"intro {phrase_b} outro words")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, f"prefix {phrase_a} suffix"), (4, f"{phrase_b} trailing stuff")],
        "doc_id long, text string",
    )
    counts_dir = str(tmp_path / "counts")
    spans_dir = str(tmp_path / "spans")
    snapshot_overwrite(
        spark.createDataFrame([], "h long, n_docs long"), counts_dir, version=-1
    )
    process = streaming_span_ingest(
        b1, "doc_id", "text", counts_dir=counts_dir, spans_dir=spans_dir
    )
    process(b1, 0)
    process(b2, 1)

    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.dup_grams)
        for r in spark.read.parquet(spans_dir).collect()
    )
    full = duplicate_spans(
        b1.union(b2), "doc_id", "text", n=5, min_docs=2
    ).collect()
    want = sorted(
        (r.doc_id, r.span_start, r.span_end, r.dup_grams)
        for r in full
        if r.doc_id in (3, 4)  # batch-1 docs pre-date their partners
    )
    assert len(got) > 0
    assert got == want
    assert all(d in (3, 4) for d, *_ in got)


def test_span_ingest_retry_does_not_double_count(spark, tmp_path):
    """A retried micro-batch (same epoch id) must not double the gram
    counts: with min_docs=2, a doc whose grams appear once would wrongly
    become its own duplicate if the retry re-merged into its own earlier
    snapshot. With idempotent=True the span log is also replaced, not
    appended."""
    from meshinsights_data_pipeline_spark.sources.layout import (
        latest_snapshot,
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import streaming_span_ingest

    doc = spark.createDataFrame(
        [(1, "unique phrase never repeated anywhere else at all")],
        "doc_id long, text string",
    )
    counts_dir = str(tmp_path / "counts")
    spans_dir = str(tmp_path / "spans")
    snapshot_overwrite(
        spark.createDataFrame([], "h long, n_docs long"), counts_dir, version=-1
    )
    process = streaming_span_ingest(
        doc, "doc_id", "text", counts_dir=counts_dir, spans_dir=spans_dir,
    )
    process(doc, 0)
    counts1 = sorted(
        (r.h, r.n_docs) for r in latest_snapshot(spark, counts_dir).collect()
    )
    process(doc, 0)  # simulated retry
    counts2 = sorted(
        (r.h, r.n_docs) for r in latest_snapshot(spark, counts_dir).collect()
    )
    assert counts1 == counts2
    assert all(nd == 1 for _, nd in counts2)  # never self-duplicated
    # no span rows, even after the retry (an all-empty epoch write leaves
    # no data files at all)
    import glob

    assert not glob.glob(f"{spans_dir}/**/*.parquet", recursive=True)


def test_streaming_report_parity_and_retry(spark, tmp_path):
    """The incremental report card must (a) equal the batch corpus_report
    (exact tier) over everything ingested, including cross-batch
    duplicate fingerprints, and (b) be unchanged by a retried epoch."""
    from meshinsights_data_pipeline_spark.operators.corpus import corpus_report
    from meshinsights_data_pipeline_spark.sources.layout import snapshot_overwrite
    from meshinsights_data_pipeline_spark.streaming import (
        report_from_state,
        streaming_report_ingest,
    )

    rows1 = [
        (1, "the quick brown fox jumps over the lazy dog", "web"),
        (2, "the quick brown fox jumps over the lazy dog", "web"),  # dup of 1
        (3, "some completely different text about engines", "web"),
        (4, "academic paper abstract with formal words", "papers"),
    ]
    rows2 = [
        (5, "the quick brown fox jumps over the lazy dog", "web"),  # cross-batch dup
        (6, "another unique document body entirely", "papers"),
    ]
    schema = "doc_id long, text string, source string"
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)
    fp_dir, tot_dir = str(tmp_path / "fp"), str(tmp_path / "tot")
    snapshot_overwrite(
        spark.createDataFrame([], "source string, fp string, n_docs long"),
        fp_dir, version=-1,
    )
    snapshot_overwrite(
        spark.createDataFrame(
            [], "source string, total_tokens long, sum_quality decimal(28,6)"
        ),
        tot_dir, version=-1,
    )
    process = streaming_report_ingest(
        b1, fp_counts_dir=fp_dir, totals_dir=tot_dir
    )
    process = released_each_epoch(spark, process)
    process(b1, 0)
    process(b2, 1)

    def canon(df):
        return sorted(
            (r.source, r.n_docs, r.total_tokens, round(r.avg_tokens, 9),
             r.mean_quality, r.n_distinct, round(r.dup_frac, 9))
            for r in df.collect()
        )

    streamed = canon(report_from_state(
        spark, fp_counts_dir=fp_dir, totals_dir=tot_dir
    ))
    batch = canon(corpus_report(b1.unionByName(b2)))
    assert streamed == batch
    # the cross-batch duplicate is visible: web has 4 docs, 2 distinct fps
    web = [r for r in streamed if r[0] == "web"][0]
    assert (web[1], web[5]) == (4, 2)

    process(b2, 1)  # simulated micro-batch retry of epoch 1
    assert canon(report_from_state(
        spark, fp_counts_dir=fp_dir, totals_dir=tot_dir
    )) == batch


def test_streaming_lm_parity_and_retry(spark, tmp_path):
    """Single-batch scores must equal the batch operator exactly; a
    second batch's docs score against the MERGED (history+batch) model,
    i.e. equal the batch operator over the union filtered to the new
    docs; a retried epoch leaves state and scores unchanged."""
    from meshinsights_data_pipeline_spark.operators.corpus import lm_quality_score
    from meshinsights_data_pipeline_spark.sources.layout import snapshot_overwrite
    from meshinsights_data_pipeline_spark.streaming import streaming_lm_ingest

    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps the fence"),
         (2, "the quick brown dog naps all day"),
         (3, "unrelated words entirely here today")], schema)
    b2 = spark.createDataFrame(
        [(4, "the quick brown fox naps too"),
         (5, "fresh vocabulary expands the model")], schema)
    bi_dir, un_dir, sc_dir = (str(tmp_path / d) for d in ("bi", "un", "sc"))
    snapshot_overwrite(
        spark.createDataFrame([], "h_prev long, h long, cb long"), bi_dir, -1)
    snapshot_overwrite(
        spark.createDataFrame([], "h long, cu long"), un_dir, -1)

    process = streaming_lm_ingest(
        b1, bigram_dir=bi_dir, unigram_dir=un_dir, scores_dir=sc_dir)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted(
            (r.doc_id, r.n_bigrams, r.avg_logp, r.ppl) for r in df.collect())

    process(b1, 0)
    got1 = canon(spark.read.parquet(sc_dir))
    assert got1 == canon(lm_quality_score(b1, "doc_id", "text"))

    process(b2, 1)
    all_scores = spark.read.parquet(sc_dir)
    got2 = canon(all_scores.filter(F.col("doc_id") >= 4))
    expect2 = canon(
        lm_quality_score(b1.unionByName(b2), "doc_id", "text")
        .filter(F.col("doc_id") >= 4))
    assert got2 == expect2
    # batch-1 docs keep their epoch-0 scores (forward-looking, no re-score)
    assert canon(all_scores.filter(F.col("doc_id") < 4)) == got1

    process(b2, 1)  # simulated retry
    after = spark.read.parquet(sc_dir)
    assert canon(after.filter(F.col("doc_id") >= 4)) == got2
    assert after.count() == 5  # no duplicated score rows


def test_streaming_debounce_parity_and_cross_batch(spark, bounded_stream_dir, tmp_path):
    """The stateful debounce twin must keep exactly the batch operator's
    rows on a bounded in-order stream, and a burst SPLIT ACROSS
    micro-batches must still collapse (the per-key last-raw-ts state)."""
    from meshinsights_data_pipeline_spark.operators.debounce import debounce
    from meshinsights_data_pipeline_spark.streaming import streaming_debounce

    schema = spark.read.parquet(bounded_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(bounded_stream_dir)
    gap = 24 * 3600
    streamed = _run_stream(
        spark,
        streaming_debounce(
            stream, ["user_id", "event_type"], "ts", gap, tiebreak_col="event_id"
        ),
        tmp_path,
        mode="append",
    )
    got = sorted(r["event_id"] for r in streamed if r["user_id"] != -1)
    ev = spark.read.parquet(bounded_stream_dir).filter(F.col("user_id") != -1)
    expected = sorted(
        r["event_id"]
        for r in debounce(
            ev, ["user_id", "event_type"], ["ts", "event_id"], "ts", gap
        ).collect()
    )
    assert got == expected and len(got) > 0

    # cross-batch burst: one file per micro-batch, burst spans the boundary
    import datetime as dt

    src = str(tmp_path / "burst_src")
    t0 = dt.datetime(2026, 1, 1)
    b1 = spark.createDataFrame(
        [(1, 1, "a", t0), (2, 1, "a", t0 + dt.timedelta(seconds=5))],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    b2 = spark.createDataFrame(
        [(3, 1, "a", t0 + dt.timedelta(seconds=9)),   # close to batch-1 tail
         (4, 1, "a", t0 + dt.timedelta(seconds=40))],  # far from raw pred
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    b1.coalesce(1).write.mode("overwrite").parquet(src + "/f1")
    b2.coalesce(1).write.mode("overwrite").parquet(src + "/f2")
    stream2 = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    streamed2 = _run_stream(
        spark,
        streaming_debounce(stream2, ["user_id", "event_type"], "ts", 10,
                           tiebreak_col="event_id"),
        tmp_path / "ckpt2",
        mode="append",
    )
    # raw-relative: 1 kept; 2 dropped (5s); 3 dropped (4s after 2, across
    # the batch boundary); 4 kept (31s after 3)
    assert sorted(r["event_id"] for r in streamed2) == [1, 4]


def test_streaming_interval_join_parity(spark, tmp_path):
    """The watermarked stream-stream interval join must emit exactly the
    batch interval_join's (point, interval) matches on a bounded stream,
    including inclusive bounds, and reject overlapping column names."""
    import datetime as dt

    import pytest

    from meshinsights_data_pipeline_spark.operators.rangejoin import interval_join
    from meshinsights_data_pipeline_spark.streaming import streaming_interval_join

    t0 = dt.datetime(2026, 1, 1)
    pts = [(i, t0 + dt.timedelta(hours=i * 7)) for i in range(12)]
    ivs = [
        (100, t0, t0 + dt.timedelta(hours=14)),                # covers 0,1,2
        (101, t0 + dt.timedelta(hours=21),
              t0 + dt.timedelta(hours=21)),                    # exactly pt 3
        (102, t0 + dt.timedelta(hours=50),
              t0 + dt.timedelta(hours=80)),                    # covers 8-11
    ]
    points = spark.createDataFrame(pts, "event_id long, ts timestamp")
    intervals = spark.createDataFrame(ivs, "iv_id long, t_start timestamp, t_end timestamp")
    psrc, isrc = str(tmp_path / "pts"), str(tmp_path / "ivs")
    points.coalesce(1).write.parquet(psrc)
    intervals.coalesce(1).write.parquet(isrc)

    joined = streaming_interval_join(
        spark.readStream.schema(points.schema).parquet(psrc),
        spark.readStream.schema(intervals.schema).parquet(isrc),
        "ts", "t_start", "t_end", max_interval="2 days",
    )
    streamed = _run_stream(spark, joined, tmp_path, mode="append")
    got = sorted((r.event_id, r.iv_id) for r in streamed)

    expected = sorted(
        (r.event_id, r.iv_id)
        for r in interval_join(points, intervals, "ts", "t_start", "t_end",
                               bucket_seconds=3600).collect()
    )
    assert got == expected and len(got) > 0
    assert (3, 101) in got  # inclusive on both bounds (start == end == point)

    with pytest.raises(ValueError, match="disjoint"):
        streaming_interval_join(
            spark.readStream.schema(points.schema).parquet(psrc),
            spark.readStream.schema(points.schema).parquet(psrc),
            "ts", "ts", "ts",
        )


def test_streaming_interval_join_left_outer(spark, tmp_path):
    """how='left_outer': points with NO containing interval surface with
    NULL right-side columns (the unmatched-telemetry report), matching a
    left-outer batch join; null-match rows are produced even when the
    unmatched point and the watermark-advancing traffic arrive in
    DIFFERENT micro-batches. Malformed intervals (end < start) are
    dropped, and oversize='drop' excludes intervals longer than
    max_interval entirely."""
    import datetime as dt

    from meshinsights_data_pipeline_spark.streaming import streaming_interval_join

    t0 = dt.datetime(2026, 1, 1)
    # Batch 1: points 0..3 at hours 0/7/14/21 (0,1,2 covered by iv 100,
    # whose inclusive end is hour 14; point 3 uncovered).
    # Batch 2: a far-future sentinel point advances the watermark past
    # every batch-1 point's expiry so their outer rows flush.
    psrc = str(tmp_path / "pts")
    pts1 = [(i, t0 + dt.timedelta(hours=i * 7)) for i in range(4)]
    pts2 = [(99, t0 + dt.timedelta(days=30))]
    pschema = "event_id long, ts timestamp"
    spark.createDataFrame(pts1, pschema).coalesce(1).write.parquet(psrc + "/f1")
    spark.createDataFrame(pts2, pschema).coalesce(1).write.parquet(psrc + "/f2")
    ivs = [
        (100, t0, t0 + dt.timedelta(hours=14)),             # covers 0,1,2
        (200, t0 + dt.timedelta(hours=20), t0),             # end < start: dropped
        (300, t0, t0 + dt.timedelta(days=20)),              # oversize
        # far-future interval: advances the RIGHT watermark (the global
        # watermark is the min across inputs) so batch-1 unmatched points
        # can be proven final and their outer rows flushed.
        (999, t0 + dt.timedelta(days=40), t0 + dt.timedelta(days=40)),
    ]
    intervals = spark.createDataFrame(
        ivs, "iv_id long, t_start timestamp, t_end timestamp"
    )
    isrc = str(tmp_path / "ivs")
    intervals.coalesce(1).write.parquet(isrc)

    joined = streaming_interval_join(
        spark.readStream.schema(pschema).option("maxFilesPerTrigger", 1)
        .parquet(psrc + "/*"),
        spark.readStream.schema(intervals.schema).parquet(isrc),
        "ts", "t_start", "t_end",
        max_interval="2 days", how="left_outer", oversize="drop",
    )
    streamed = _run_stream(spark, joined, tmp_path, mode="append")
    # iv 200 malformed, iv 300 oversize-dropped -> only iv 100 matches;
    # point 3 (arriving in batch 1, unmatched, finalized only after later
    # batches advance the watermark) surfaces with NULL interval columns.
    # The sentinel point 99 sits AT the final watermark — its own outer
    # row is legitimately still pending, so assert on points 0..3 only.
    got = sorted(
        (r.event_id, r.iv_id) for r in streamed if r.event_id < 10
    )
    assert got == [(0, 100), (1, 100), (2, 100), (3, None)]
    null_rows = [r for r in streamed if r.iv_id is None]
    assert all(r.t_start is None and r.t_end is None for r in null_rows)


def test_streaming_debounce_state_ttl(spark, tmp_path):
    """Event-time TTL: quiet keys' state is dropped once the watermark
    passes last_event + ttl (observed via the state store's row count),
    while kept-row output is unchanged vs the no-TTL run; a TTL below
    the gap is rejected (it would re-emit a burst mid-gap)."""
    import datetime as dt

    import pytest

    from meshinsights_data_pipeline_spark.streaming import streaming_debounce

    t0 = dt.datetime(2026, 1, 1)
    schema = "event_id long, user_id long, ts timestamp"
    src = str(tmp_path / "src")
    # f1: three keys fire; f2: only key 3 fires, far in the future, so
    # the watermark passes keys 1/2's TTL and their state expires.
    spark.createDataFrame(
        [(1, 1, t0), (2, 2, t0 + dt.timedelta(seconds=3)),
         (3, 3, t0 + dt.timedelta(seconds=5))], schema
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [(4, 3, t0 + dt.timedelta(hours=10))], schema
    ).coalesce(1).write.parquet(src + "/f2")

    def run(ttl):
        stream = (spark.readStream.schema(spark.read.parquet(src + "/f1").schema)
                  .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
        out = streaming_debounce(
            stream, ["user_id"], "ts", 10, tiebreak_col="event_id",
            state_ttl_seconds=ttl,
        )
        rows = []
        q = (out.writeStream.outputMode("append")
             .foreachBatch(lambda df, _id: rows.append(df.collect()))
             .option("checkpointLocation", str(tmp_path / f"ckpt{ttl}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        progress = q.lastProgress
        n_state = progress["stateOperators"][0]["numRowsTotal"]
        return sorted(r.event_id for b in rows for r in b), n_state

    got_ttl, state_ttl = run(3600)       # 1h TTL: keys 1/2 expire
    got_none, state_none = run(None)     # no TTL: all three keys retained
    assert got_ttl == got_none == [1, 2, 3, 4]
    assert state_none == 3
    assert state_ttl == 1  # only the still-active key survives

    with pytest.raises(ValueError, match="below min_gap"):
        streaming_debounce(
            spark.readStream.schema(spark.read.parquet(src + "/f1").schema)
            .parquet(src + "/*"),
            ["user_id"], "ts", 600, state_ttl_seconds=60,
        )


def test_streaming_funnel_state_ttl(spark, tmp_path):
    """Conversion-window TTL for the funnel: users quiet past the TTL
    have their partial funnel state dropped once the watermark passes
    (observed via the state store row count); emitted progressions are
    unchanged; TTL must be positive."""
    import datetime as dt

    import pytest

    from meshinsights_data_pipeline_spark.streaming import streaming_funnel

    t0 = dt.datetime(2026, 1, 1)
    schema = "user_id long, ts timestamp, event_type string"
    src = str(tmp_path / "src")
    # f1: user 1 reaches step 2, user 2 reaches step 1.
    spark.createDataFrame(
        [(1, t0, "view"), (1, t0 + dt.timedelta(seconds=2), "click"),
         (2, t0 + dt.timedelta(seconds=3), "view")], schema
    ).coalesce(1).write.parquet(src + "/f1")
    # f2: user 3 fires 10h later — the watermark passes users 1/2's TTL,
    # so their partial funnels expire at the next timeout processing.
    spark.createDataFrame(
        [(3, t0 + dt.timedelta(hours=10), "view")], schema
    ).coalesce(1).write.parquet(src + "/f2")

    def run(ttl, ckpt):
        stream = (spark.readStream.schema(spark.read.parquet(src + "/f1").schema)
                  .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
        out = streaming_funnel(
            stream, "user_id", "ts", "event_type",
            ["view", "click", "purchase"], state_ttl_seconds=ttl,
        )
        rows = []
        q = (out.writeStream.outputMode("append")
             .foreachBatch(lambda df, _id: rows.append(df.collect()))
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        n_state = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        by_user = {}
        for b in rows:
            for r in b:
                by_user[r.user] = max(by_user.get(r.user, 0), r.step_reached)
        return by_user, n_state

    got, n_state = run(3600, "ckpt_ttl")
    got_none, n_none = run(None, "ckpt_none")
    assert got == got_none == {1: 2, 2: 1, 3: 1}  # progressions unchanged
    assert n_none == 3
    assert n_state == 1  # users 1/2 expired; only the fresh user remains

    with pytest.raises(ValueError, match="positive"):
        streaming_funnel(
            spark.readStream.schema(spark.read.parquet(src + "/f1").schema)
            .parquet(src + "/*"),
            "user_id", "ts", "event_type", ["view", "click"],
            state_ttl_seconds=0,
        )


def test_streaming_interval_join_with_keys(spark, tmp_path):
    """The keyed form: equality key columns join alongside the bucket id,
    matching only same-key (point, interval) pairs, and the duplicated
    right-side key column is dropped from the output."""
    import datetime as dt

    from meshinsights_data_pipeline_spark.streaming import streaming_interval_join

    t0 = dt.datetime(2026, 1, 1)
    pts = spark.createDataFrame(
        [(1, 10, t0 + dt.timedelta(hours=1)),
         (2, 20, t0 + dt.timedelta(hours=1))],
        "event_id long, site long, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [(100, 10, t0, t0 + dt.timedelta(hours=2)),
         (200, 20, t0, t0 + dt.timedelta(hours=2)),
         (300, 30, t0, t0 + dt.timedelta(hours=2))],
        "iv_id long, site long, t_start timestamp, t_end timestamp",
    )
    psrc, isrc = str(tmp_path / "p"), str(tmp_path / "i")
    pts.coalesce(1).write.parquet(psrc)
    ivs.coalesce(1).write.parquet(isrc)
    joined = streaming_interval_join(
        spark.readStream.schema(pts.schema).parquet(psrc),
        spark.readStream.schema(ivs.schema).parquet(isrc),
        "ts", "t_start", "t_end", bucket_seconds=3600,
        max_interval="1 day", on=["site"],
    )
    rows = _run_stream(spark, joined, tmp_path, mode="append")
    assert sorted((r.event_id, r.iv_id, r.site) for r in rows) == [
        (1, 100, 10), (2, 200, 20),  # same-key only; site appears once
    ]
    assert joined.columns.count("site") == 1


def test_idempotent_epoch_append_rejects_flat_seed(spark, tmp_path):
    """A table seeded flat (the legacy at-least-once layout) must be
    rejected at WRITE time with the migration step — not discovered as
    a partition-layout error at some later read."""
    import pytest
    from pyspark.sql import functions as F

    from meshinsights_data_pipeline_spark.sources.layout import (
        idempotent_epoch_append,
    )

    flat = str(tmp_path / "flat")
    df = spark.range(10).select(F.col("id").alias("vec_id"))
    df.write.parquet(flat)
    with pytest.raises(ValueError, match="flat parquet table"):
        idempotent_epoch_append(df, flat, epoch_id=0)
    # an epoch-layout table keeps accepting writes (including re-seeds)
    epoch = str(tmp_path / "epoch")
    idempotent_epoch_append(df, epoch, epoch_id=-1)
    idempotent_epoch_append(df, epoch, epoch_id=0)
    got = spark.read.parquet(epoch)
    assert got.count() == 20
    assert set(r._epoch for r in got.select("_epoch").distinct().collect()) == {-1, 0}


def test_streaming_ttl_watermark_drops_late_events(spark, tmp_path):
    """Pins the TTL late-data contract with an ACTUAL late batch.
    Engine probe first: Spark does NOT auto-filter late input for
    applyInPandasWithState (numRowsDroppedByWatermark stays 0 even with
    an hour-late event), so the operators enforce the documented drop
    themselves via state.getCurrentWatermarkMs() — a late event is
    absent from the output entirely. The same feed with TTL off (no
    watermark) processes every event regardless of lateness."""
    import datetime as dt

    from meshinsights_data_pipeline_spark.streaming import (
        streaming_debounce,
        streaming_funnel,
    )

    t0 = dt.datetime(2026, 1, 1)
    schema = "event_id long, user_id long, ts timestamp, event_type string"
    src = str(tmp_path / "src")
    # f1 advances the watermark to ~t0+1h; f2 then delivers an event at
    # t0 (an hour late, far beyond the 10s lateness bound) plus one
    # on-time event proving batch 2 itself is processed.
    spark.createDataFrame(
        [(1, 1, t0 + dt.timedelta(hours=1), "view")], schema
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [(2, 2, t0, "view"),
         (3, 1, t0 + dt.timedelta(hours=2), "view")], schema
    ).coalesce(1).write.parquet(src + "/f2")

    def run(build, ckpt):
        stream = (
            spark.readStream.schema(spark.read.parquet(src + "/f1").schema)
            .option("maxFilesPerTrigger", 1).parquet(src + "/*")
        )
        rows = []
        q = (build(stream).writeStream.outputMode("append")
             .foreachBatch(lambda df, _id: rows.append(df.collect()))
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
        return rows, dropped

    # debounce, TTL on: the late event never reaches the function
    rows, dropped = run(
        lambda s: streaming_debounce(
            s, ["user_id"], "ts", 10, tiebreak_col="event_id",
            state_ttl_seconds=3600, watermark="10 seconds",
        ),
        "ckpt_deb_ttl",
    )
    got = sorted(r.event_id for b in rows for r in b)
    assert got == [1, 3]  # event 2 dropped entirely, not merely debounced
    # the engine itself filtered nothing — the operator did the drop
    assert dropped == 0

    # debounce, TTL off: no watermark, the late event IS processed
    rows, dropped = run(
        lambda s: streaming_debounce(
            s, ["user_id"], "ts", 10, tiebreak_col="event_id"
        ),
        "ckpt_deb_nottl",
    )
    assert sorted(r.event_id for b in rows for r in b) == [1, 2, 3]
    assert dropped == 0

    # funnel, TTL on: the late user's step-1 arrival is discarded — no
    # funnel row for user 2, and the drop shows in the metric
    rows, dropped = run(
        lambda s: streaming_funnel(
            s, "user_id", "ts", "event_type", ["view", "click"],
            state_ttl_seconds=3600, watermark="10 seconds",
        ),
        "ckpt_fun_ttl",
    )
    assert sorted({r.user for b in rows for r in b}) == [1]
    assert dropped == 0  # same: the drop is the operator's, not Spark's


def test_streaming_drift_parity_accumulation_and_retry(spark, tmp_path):
    """Single-batch report must equal the batch operator exactly (token
    hashing is metric-invariant); after a second batch the epoch-1
    report equals the batch operator over the UNION (state accumulates);
    a retried epoch leaves state and reports unchanged."""
    from meshinsights_data_pipeline_spark.operators.corpus import source_drift
    from meshinsights_data_pipeline_spark.sources.layout import snapshot_overwrite
    from meshinsights_data_pipeline_spark.streaming import streaming_drift_ingest

    schema = "doc_id long, source string, text string"
    b1 = spark.createDataFrame(
        [(1, "web", "spark rows and columns and rows"),
         (2, "web", "columns of rows"),
         (3, "pdf", "entirely different words here")], schema)
    b2 = spark.createDataFrame(
        [(4, "pdf", "words drift when scrapers break"),
         (5, "forum", "fresh source appears mid stream")], schema)
    cdir, rdir = str(tmp_path / "counts"), str(tmp_path / "report")
    snapshot_overwrite(
        spark.createDataFrame([], "source string, h long, c_st double"),
        cdir, -1)

    process = streaming_drift_ingest(
        b1, counts_dir=cdir, report_dir=rdir)

    def canon(df):
        return sorted(
            (r.source, r.n_tokens, r.tv_distance, r.chi_square)
            for r in df.collect())

    process(b1, 0)
    got0 = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 0))
    assert got0 == canon(source_drift(b1, "source", "text"))

    process(b2, 1)
    all_reports = spark.read.parquet(rdir)
    got1 = canon(all_reports.filter(F.col("epoch") == 1))
    assert got1 == canon(
        source_drift(b1.unionByName(b2), "source", "text"))
    # epoch-0 report is immutable history (the drift time series)
    assert canon(all_reports.filter(F.col("epoch") == 0)) == got0

    process(b2, 1)  # simulated micro-batch retry
    after = spark.read.parquet(rdir)
    assert canon(after.filter(F.col("epoch") == 1)) == got1
    # 2 sources in epoch 0 + 3 in epoch 1, no duplicated rows
    assert after.count() == 5


def test_streaming_transitions_parity_boundary_and_retry(spark, tmp_path):
    """Fold over 2 batches == batch operator over the union (the
    cross-batch boundary transition must be counted via the last-state
    table); a retried epoch leaves counts and reports unchanged."""
    from meshinsights_data_pipeline_spark.operators.funnel import (
        state_transitions,
    )
    from meshinsights_data_pipeline_spark.sources.layout import snapshot_overwrite
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_transitions_ingest,
    )

    schema = "user_id long, event_id long, ts timestamp, state string"
    from datetime import datetime

    def t(s):
        return datetime.fromisoformat(s)

    b1 = spark.createDataFrame(
        [(1, 1, t("2024-01-01 00:00:00"), "A"),
         (1, 2, t("2024-01-01 00:00:01"), "B"),
         (2, 3, t("2024-01-01 00:00:00"), "B")], schema)
    # user 1's B (end of b1) -> A (start of b2) is the boundary transition
    b2 = spark.createDataFrame(
        [(1, 4, t("2024-01-01 00:01:00"), "A"),
         (2, 5, t("2024-01-01 00:01:00"), "B"),
         (3, 6, t("2024-01-01 00:01:00"), "A")], schema)

    ldir = str(tmp_path / "last")
    cdir = str(tmp_path / "counts")
    rdir = str(tmp_path / "report")
    snapshot_overwrite(
        spark.createDataFrame([], "entity long, ts timestamp, tb long, state string"),
        ldir, -1)
    snapshot_overwrite(
        spark.createDataFrame([], "from_state string, to_state string, n bigint"),
        cdir, -1)

    process = streaming_transitions_ingest(
        b1, "user_id", "ts", "state", "event_id",
        last_dir=ldir, counts_dir=cdir, report_dir=rdir)

    def canon(df):
        return sorted((r.from_state, r.to_state, r.n, r.p) for r in df.collect())

    process(b1, 0)
    process(b2, 1)
    got = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 1)
                .select("from_state", "to_state", "n", "p"))
    want = canon(state_transitions(
        b1.unionByName(b2), "user_id", "ts", "state", tiebreak_col="event_id"))
    assert got == want
    # the boundary B->A is present (it exists in no single batch)
    assert any(f == "B" and to == "A" for f, to, _, _ in got)

    process(b2, 1)  # retried micro-batch
    after = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 1)
                  .select("from_state", "to_state", "n", "p"))
    assert after == got


def test_gap_sessionize_parity_with_streaming(spark, bounded_stream_dir, tmp_path):
    """sessionize_by_gap documents itself as the batch twin of
    streaming_session_window (strict-> boundary chosen to match); pin it:
    same input, same gap, equal session bounds/counts modulo numbering —
    the batch operator itself, not a hand-rolled lag+sum rebuild."""
    from meshinsights_data_pipeline_spark.operators.sessionize import (
        sessionize_by_gap,
    )

    schema = spark.read.parquet(bounded_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(bounded_stream_dir)
    streamed = _run_stream(
        spark,
        streaming_session_window(
            stream, ["user_id"], ts_col="ts", value_col="value", gap="30 minutes"
        ),
        tmp_path,
        mode="append",
    )
    streamed = [r for r in streamed if r["user_id"] != -1]

    ev = spark.read.parquet(bounded_stream_dir).filter(F.col("user_id") != -1)
    batch = (
        sessionize_by_gap(ev, "ts", 1800, ["user_id"], tiebreak=[F.col("event_id")])
        .groupBy("user_id", "session")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
            F.count(F.lit(1)).alias("cnt"),
            F.median("value").alias("median_value"),
        )
        .drop("session")
    )

    cols = ["user_id", "session_start", "session_end", "cnt", "median_value"]
    assert len(streamed) > 0
    assert _canon(streamed, cols) == _canon(batch.collect(), cols)


def test_idempotent_epoch_append_rejects_flat_gained_on_resume(spark, tmp_path):
    """The upgrade-in-place hazard _reject_flat_table exists for: a
    stream runs (epochs land), stops, the target directory gains FLAT
    parquet files (someone 'migrates' by writing into it directly), and
    the stream RESUMES from its checkpoint. The next micro-batch must
    fail at WRITE time naming the mixed layout — not succeed and leave a
    directory the next read dies on."""
    import datetime as dt

    import pytest
    from pyspark.sql import functions as F

    from meshinsights_data_pipeline_spark.sources.layout import (
        idempotent_epoch_append,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts timestamp"
    t0 = dt.datetime(2026, 1, 1)
    spark.createDataFrame([(1, t0)], schema).coalesce(1).write.parquet(
        src + "/f1"
    )

    errors = []

    def sink_batch(df, epoch_id):
        try:
            idempotent_epoch_append(df, sink, epoch_id)
        except ValueError as e:
            errors.append(str(e))
            raise

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src + "/*")
        q = (stream.writeStream.outputMode("append")
             .foreachBatch(sink_batch)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    # first run: epoch layout established
    run_once()
    assert spark.read.parquet(sink).count() == 1

    # mid-run corruption: a flat file lands next to the _epoch= dirs
    spark.createDataFrame([(99, t0)], schema).coalesce(1).toPandas().to_parquet(
        sink + "/part-flat.parquet"
    )
    spark.createDataFrame(
        [(2, t0 + dt.timedelta(seconds=5))], schema
    ).coalesce(1).write.parquet(src + "/f2")

    # resume from the same checkpoint: the new micro-batch must refuse
    with pytest.raises(Exception):
        run_once()
    assert errors and "NEXT TO existing _epoch=" in errors[-1]


def test_streaming_dsir_parity_and_retry(spark, tmp_path):
    """Single-batch weights must equal the batch operator exactly; a
    second batch's docs score against the MERGED (history+batch) raw
    model with the STATIC target, i.e. equal the batch operator over the
    union filtered to the new docs; a retried epoch leaves state and
    scores unchanged."""
    from meshinsights_data_pipeline_spark.operators.corpus import dsir_weights
    from meshinsights_data_pipeline_spark.sources.layout import snapshot_overwrite
    from meshinsights_data_pipeline_spark.streaming import streaming_dsir_ingest

    schema = "doc_id long, text string"
    target = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "the quick brown dog sleeps near the lazy fox")], schema)
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox naps all day"),
         (2, "zulu xray yankee victor whiskey uniform tango")], schema)
    b2 = spark.createDataFrame(
        [(3, "the lazy dog jumps over the quick fox"),
         (4, "fresh vocabulary expands the raw model")], schema)
    cnt_dir, sc_dir = str(tmp_path / "cnt"), str(tmp_path / "sc")
    snapshot_overwrite(
        spark.createDataFrame([], "b long, c_r long"), cnt_dir, -1)

    process = streaming_dsir_ingest(
        target, counts_dir=cnt_dir, scores_dir=sc_dir)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted(
            (r.doc_id, r.n_bigrams, r.dsir_logw) for r in df.collect())

    process(b1, 0)
    got1 = canon(spark.read.parquet(sc_dir))
    assert got1 == canon(dsir_weights(b1, target, "doc_id", "text"))

    process(b2, 1)
    all_scores = spark.read.parquet(sc_dir)
    got2 = canon(all_scores.filter(F.col("doc_id") >= 3))
    expect2 = canon(
        dsir_weights(b1.unionByName(b2), target, "doc_id", "text")
        .filter(F.col("doc_id") >= 3))
    assert got2 == expect2
    # batch-1 docs keep their epoch-0 weights (forward-looking)
    assert canon(all_scores.filter(F.col("doc_id") < 3)) == got1

    process(b2, 1)  # simulated retry
    after = spark.read.parquet(sc_dir)
    assert canon(after.filter(F.col("doc_id") >= 3)) == got2
    assert after.count() == 4  # no duplicated score rows


def test_streaming_dsir_build_leaves_no_persisted_rdd(spark, tmp_path):
    """Building the DSIR twin collects the static target counts once and
    persists nothing: the persisted RDD ids after the build are a subset
    of those before it."""
    from meshinsights_data_pipeline_spark.streaming import streaming_dsir_ingest

    target = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    streaming_dsir_ingest(target, counts_dir=str(tmp_path / "cnt"),
                          scores_dir=str(tmp_path / "sc"))
    assert set(jsc.getPersistentRDDs().keySet()) <= before


def test_streaming_bm25_parity_and_retry(spark, tmp_path):
    """Single-batch scores must equal the batch operator's scored frame
    exactly; a second batch's docs score against the MERGED
    (history+batch) corpus statistics, i.e. equal the batch operator
    over the union filtered to the new docs; a retried epoch leaves
    counters and scores unchanged."""
    from meshinsights_data_pipeline_spark.operators.text import bm25_topk
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_bm25_ingest,
    )
    from meshinsights_data_pipeline_spark.streaming.bm25 import COUNTER_SCHEMA

    schema = "doc_id long, text string"
    terms = ["fox", "dog"]
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "a fox a fox a fox den"),
         (3, "no matching terms at all here")], schema)
    b2 = spark.createDataFrame(
        [(4, "dog dog dog dog park"),
         (5, "the slow green turtle naps")], schema)
    cnt_dir, sc_dir = str(tmp_path / "cnt"), str(tmp_path / "sc")
    snapshot_overwrite(spark.createDataFrame([], COUNTER_SCHEMA), cnt_dir, -1)

    process = streaming_bm25_ingest(
        terms, counts_dir=cnt_dir, scores_dir=sc_dir)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted((r.doc_id, r.n_terms, r.score) for r in df.collect())

    def batch_scores(docs):
        # the batch operator's scored frame = top-k with k >= |docs|
        return bm25_topk(docs, "doc_id", "text", terms, top_k=1000).drop("rk")

    process(b1, 0)
    got1 = canon(spark.read.parquet(sc_dir))
    assert got1 == canon(batch_scores(b1))
    assert len(got1) == 2  # doc 3 matches no term, never scored

    process(b2, 1)
    all_scores = spark.read.parquet(sc_dir)
    got2 = canon(all_scores.filter(F.col("doc_id") >= 4))
    expect2 = canon(
        batch_scores(b1.unionByName(b2)).filter(F.col("doc_id") >= 4))
    assert got2 == expect2
    # batch-1 docs keep their epoch-0 scores (forward-looking)
    assert canon(all_scores.filter(F.col("doc_id") < 4)) == got1

    # merged counters reflect the full history: n counts ALL docs
    # (non-matching included), df only matching ones
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_before,
    )
    counters = {
        r.key: r.val for r in snapshot_before(spark, cnt_dir, 99).collect()
    }
    assert counters["n"] == 5
    assert counters["df:fox"] == 2 and counters["df:dog"] == 2

    process(b2, 1)  # simulated retry
    after = spark.read.parquet(sc_dir)
    assert canon(after.filter(F.col("doc_id") >= 4)) == got2
    assert after.count() == 3  # no duplicated score rows
    assert {
        r.key: r.val for r in snapshot_before(spark, cnt_dir, 99).collect()
    } == counters


def test_streaming_payload_lsh_ingest_parity(spark, tmp_path):
    """Binary twin of the LSH ingest parity test: seed the signature
    table with half the media payloads, stream the other half in
    micro-batches — accumulated candidate pairs must equal the batch
    byte-shingle LSH candidates over the full corpus, minus
    seed-vs-seed pairs."""
    from meshinsights_data_pipeline_spark.operators.dedup import (
        banded_signatures,
        minhash_lsh_candidates,
    )
    from meshinsights_data_pipeline_spark.operators.multimodal import (
        payload_shingle_hashes,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        idempotent_epoch_append,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_payload_lsh_ingest,
    )

    media = (
        read_table(spark, SF_DIR, "documents")
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "UTF-8").alias("payload"),
        )
    )
    seed = media.filter(F.col("media_id") % 2 == 0)
    arriving = media.filter(F.col("media_id") % 2 == 1)

    sig_dir = str(tmp_path / "signatures")
    pairs_dir = str(tmp_path / "pairs")
    src = str(tmp_path / "src")
    idempotent_epoch_append(
        banded_signatures(
            seed, "media_id", "payload",
            shingles=payload_shingle_hashes(seed),
        ),
        sig_dir,
        -1,
    )
    arriving.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            streaming_payload_lsh_ingest(
                stream, signature_dir=sig_dir, pairs_dir=pairs_dir
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(pairs_dir).distinct().collect()
    }
    full = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(
            media, "media_id", "payload",
            shingles=payload_shingle_hashes(media),
        ).collect()
    }
    seed_only = {(a, b) for a, b in full if a % 2 == 0 and b % 2 == 0}
    assert len(got) > 0
    assert got == full - seed_only


def test_streaming_novelty_parity_and_retry(spark, tmp_path):
    """Single-batch novelty must equal the batch operator exactly; a
    second batch scores against the MERGED gram counts (a gram shared
    with history is not novel); a retried epoch leaves counts and
    scores unchanged."""
    from meshinsights_data_pipeline_spark.operators.corpus import gram_novelty
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_before,
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_novelty_ingest,
    )
    from meshinsights_data_pipeline_spark.streaming.novelty import (
        NOVELTY_COUNTS_SCHEMA,
    )

    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")], schema)
    b2 = spark.createDataFrame(
        [(4, "a b c d"),          # everything here already seen in b1
         (5, "p q r s")], schema)  # fully novel
    cnt_dir, sc_dir = str(tmp_path / "cnt"), str(tmp_path / "sc")
    snapshot_overwrite(
        spark.createDataFrame([], NOVELTY_COUNTS_SCHEMA), cnt_dir, -1)

    process = streaming_novelty_ingest(
        counts_dir=cnt_dir, scores_dir=sc_dir)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted((r.doc_id, r.n_grams, r.novel_frac)
                      for r in df.collect())

    process(b1, 0)
    got1 = canon(spark.read.parquet(sc_dir))
    assert got1 == canon(gram_novelty(b1, "doc_id", "text"))

    process(b2, 1)
    all_scores = spark.read.parquet(sc_dir)
    got2 = canon(all_scores.filter(F.col("doc_id") >= 4))
    # doc 4's grams all collide with history -> 0 novel; doc 5 fully novel
    assert got2 == [(4, 2, 0.0), (5, 2, 1.0)]
    # equals batch operator over the union, restricted to the new docs
    expect2 = canon(
        gram_novelty(b1.unionByName(b2), "doc_id", "text")
        .filter(F.col("doc_id") >= 4))
    assert got2 == expect2
    # batch-1 docs keep their epoch-0 scores (forward-looking)
    assert canon(all_scores.filter(F.col("doc_id") < 4)) == got1

    process(b2, 1)  # simulated retry
    after = spark.read.parquet(sc_dir)
    assert canon(after.filter(F.col("doc_id") >= 4)) == got2
    assert after.count() == 5
    counts = {r.h: r.n_docs
              for r in snapshot_before(spark, cnt_dir, 99).collect()}
    assert max(counts.values()) == 3  # "a b c" seen in docs 1, 2 and 4


def test_streaming_basket_parity_and_retry(spark, tmp_path):
    """Single-batch basket stats must equal the batch operator exactly;
    a second batch re-emits its pairs against the MERGED counts; a
    retried epoch leaves state and stats unchanged."""
    from meshinsights_data_pipeline_spark.operators.basket import (
        basket_pair_stats,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_before,
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_basket_ingest,
    )
    from meshinsights_data_pipeline_spark.streaming.basket import (
        BASKET_ITEMS_SCHEMA,
        BASKET_PAIRS_SCHEMA,
        BASKET_TOTALS_SCHEMA,
    )

    schema = "basket_id long, item_id long"
    b1 = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10), (2, 20), (3, 10), (3, 30)], schema)
    b2 = spark.createDataFrame(
        [(4, 10), (4, 20), (5, 30), (5, 40)], schema)
    dirs = {k: str(tmp_path / k) for k in ("pairs", "items", "totals", "st")}
    snapshot_overwrite(
        spark.createDataFrame([], BASKET_PAIRS_SCHEMA), dirs["pairs"], -1)
    snapshot_overwrite(
        spark.createDataFrame([], BASKET_ITEMS_SCHEMA), dirs["items"], -1)
    snapshot_overwrite(
        spark.createDataFrame([], BASKET_TOTALS_SCHEMA), dirs["totals"], -1)
    process = streaming_basket_ingest(
        pairs_dir=dirs["pairs"], items_dir=dirs["items"],
        totals_dir=dirs["totals"], stats_dir=dirs["st"])
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted(
            (r.item_a, r.item_b, r.n_ab, r.support, r.confidence_a_b, r.lift)
            for r in df.collect())

    process(b1, 0)
    got1 = canon(spark.read.parquet(dirs["st"]))
    assert got1 == canon(basket_pair_stats(b1, "basket_id", "item_id", 2))

    process(b2, 1)
    all_stats = spark.read.parquet(dirs["st"])
    # epoch 1 re-emits (10, 20) with merged counts: n_ab=3 of 5 baskets,
    # n_10=4, n_20=3 -> support .6, confidence 3/4, lift 3*5/(4*3)=1.25
    got2 = canon(all_stats.filter(F.col("_epoch") == 1))
    assert got2 == [(10, 20, 3, 0.6, 0.75, 1.25)]
    # ...which equals the batch operator over the union for that pair
    merged_expect = canon(
        basket_pair_stats(b1.unionByName(b2), "basket_id", "item_id", 2))
    assert got2 == merged_expect

    process(b2, 1)  # simulated retry
    after = spark.read.parquet(dirs["st"])
    assert after.count() == len(got1) + 1
    totals = snapshot_before(spark, dirs["totals"], 99).first()
    assert totals.n_baskets == 5


def test_streaming_attribution_parity_cross_batch_and_retry(spark, tmp_path):
    """Single-batch attribution must equal the batch operator exactly
    (including a touch AFTER a conversion in the same batch); a later
    batch's conversion attributes to a touch ingested EARLIER; a retried
    epoch leaves state and output unchanged."""
    from datetime import datetime

    from meshinsights_data_pipeline_spark.operators.funnel import (
        last_touch_attribution,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_before,
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_attribution_ingest,
    )
    from meshinsights_data_pipeline_spark.streaming.attribution import (
        ATTRIBUTION_STATE_SCHEMA,
    )

    schema = ("event_id long, ts timestamp_ntz, user_id long,"
              " event_type string")
    b1 = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 2, 10, 0), 1, "click"),
            (2, datetime(2024, 1, 2, 12, 0), 1, "purchase"),
            (3, datetime(2024, 1, 2, 13, 0), 1, "click"),   # AFTER the purchase
            (4, datetime(2024, 1, 2, 9, 0), 2, "click"),
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [(5, datetime(2024, 1, 2, 11, 0), 2, "purchase")],  # touch was in b1
        schema,
    )
    t_dir, a_dir = str(tmp_path / "t"), str(tmp_path / "a")
    snapshot_overwrite(
        spark.createDataFrame([], ATTRIBUTION_STATE_SCHEMA), t_dir, -1)
    process = streaming_attribution_ingest(
        touches_dir=t_dir, attributions_dir=a_dir)

    def canon(df):
        return sorted((r.conv_id, r.user_id, r.touch_id, r.gap_seconds)
                      for r in df.collect())

    process(b1, 0)
    got1 = canon(spark.read.parquet(a_dir))
    assert got1 == canon(last_touch_attribution(
        b1, "user_id", "ts", "event_type", "event_id"))
    assert got1 == [(2, 1, 1, 7200)]  # click 3 (later) must NOT attribute

    process(b2, 1)
    all_attr = spark.read.parquet(a_dir)
    got2 = canon(all_attr.filter(F.col("_epoch") == 1))
    assert got2 == [(5, 2, 4, 7200)]  # credited to the epoch-0 click

    process(b2, 1)  # simulated retry
    after = spark.read.parquet(a_dir)
    assert after.count() == 2
    state = snapshot_before(spark, t_dir, 99)
    assert state.count() == 3  # clicks 1, 3, 4 (deduped per (user, ts))


def test_streaming_attribution_typed_state_schema(spark, tmp_path):
    """attribution_state_schema parameterizes the ts/id types: a
    TIMESTAMP (LTZ) source with STRING event ids seeds state that
    matches the first batch's schema, so the prev-state union neither
    fails nor silently NULLs the ids — and the attributed ids keep
    their native string type end-to-end."""
    from datetime import datetime

    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_before,
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_attribution_ingest,
    )
    from meshinsights_data_pipeline_spark.streaming.attribution import (
        attribution_state_schema,
    )

    schema = "event_id string, ts timestamp, user_id long, event_type string"
    b1 = spark.createDataFrame(
        [("c-1", datetime(2024, 1, 2, 10, 0), 1, "click")], schema)
    b2 = spark.createDataFrame(
        [("p-1", datetime(2024, 1, 2, 12, 0), 1, "purchase")], schema)
    t_dir, a_dir = str(tmp_path / "t"), str(tmp_path / "a")
    snapshot_overwrite(
        spark.createDataFrame(
            [], attribution_state_schema(ts_type="timestamp",
                                         id_type="string")),
        t_dir, -1)
    process = streaming_attribution_ingest(
        touches_dir=t_dir, attributions_dir=a_dir)

    process(b1, 0)
    process(b2, 1)
    out = spark.read.parquet(a_dir)
    assert dict(out.dtypes)["touch_id"] == "string"
    rows = [(r.conv_id, r.touch_id, r.gap_seconds) for r in out.collect()]
    assert rows == [("p-1", "c-1", 7200)]  # cross-epoch credit, string ids
    state = snapshot_before(spark, t_dir, 99)
    assert dict(state.dtypes)["touch_id"] == "string"
    assert state.count() == 1


def test_windowed_batch_vs_streaming_ttl_dedup(spark, tmp_path):
    """Pins the documented relationship between windowed_exact_dedup
    (fixed epoch-aligned windows) and streaming_exact_dedup (sliding
    TTL state): the KEY sets match, the FIRST occurrence per key
    survives in both, boundary-straddling duplicates within the TTL
    produce two batch survivors but one streaming survivor, and a
    long-gap re-occurrence re-emits in streaming once the watermark has
    passed the old state — landing among the batch survivors."""
    from datetime import datetime

    from meshinsights_data_pipeline_spark.operators.dedup import (
        windowed_exact_dedup,
    )
    from meshinsights_data_pipeline_spark.operators.text import fingerprint
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_exact_dedup,
    )

    # epoch day of 2024-01-04 is 19726 = 7 * 2818: a window boundary.
    schema = "doc_id long, ts timestamp, text string"
    files = [
        # f1: first sightings of A and B
        [(1, datetime(2024, 1, 3), "text A"),
         (10, datetime(2024, 1, 1), "text B")],
        # f2: A recurs ACROSS the window boundary but inside the 7d TTL
        # (dropped by streaming, kept by batch); C's arrival advances the
        # watermark to 2024-02-08 for the NEXT batch.
        [(2, datetime(2024, 1, 4), "text A"),
         (20, datetime(2024, 2, 15), "text C")],
        # f3: spacer batch — runs with the advanced watermark, so A's and
        # B's state is evicted here (eviction happens a batch after the
        # watermark-advancing data, the structured-streaming lag).
        [(30, datetime(2024, 2, 20), "text D")],
        # f4: B recurs 60 days later, AFTER state eviction -> re-emitted.
        [(11, datetime(2024, 3, 1), "text B")],
    ]
    src = str(tmp_path / "src")
    for rows in files:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    streamed = _run_stream(
        spark,
        streaming_exact_dedup(stream, "doc_id", "text", ts_col="ts",
                              watermark="168 hours"),
        tmp_path, mode="append",
    )

    batch_in = spark.read.parquet(src).withColumn("fp", fingerprint("text"))
    batch = windowed_exact_dedup(
        batch_in, "doc_id", ["fp"], "ts", window_days=7).collect()

    s_ids = {r.doc_id for r in streamed}
    b_ids = {r.doc_id for r in batch}
    # shared contract: key sets equal; first occurrence per key in both
    assert {r.fp for r in streamed} == {r.fp for r in batch}
    assert {1, 10, 20, 30} <= s_ids and {1, 10, 20, 30} <= b_ids
    # divergence 1: boundary-straddling dup -> batch keeps both windows'
    # survivors, streaming drops the in-TTL recurrence
    assert 2 in b_ids and 2 not in s_ids
    # divergence 2 (re-emission): the 60-day B recurrence re-emits in
    # streaming (state evicted by watermark progress) AND is a batch
    # survivor of its own window
    assert 11 in s_ids and 11 in b_ids
    assert len(streamed) == 5 and len(batch) == 6


def test_streaming_pmi_full_cross_batch_parity_and_retry(spark, tmp_path):
    """PMI's sufficient statistic (the bigram count table) is mergeable,
    so the streaming twin has FULL cross-batch parity — each epoch's
    top-k equals the batch operator over everything ingested so far,
    with no forward-looking caveat; a retried epoch changes nothing."""
    from meshinsights_data_pipeline_spark.operators.text import (
        pmi_collocations,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_before,
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_pmi_ingest,
    )
    from meshinsights_data_pipeline_spark.streaming.pmi import (
        PMI_COUNTS_SCHEMA,
    )

    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(
        [(i, "the new york office and the big office") for i in range(3)],
        schema)
    b2 = spark.createDataFrame(
        [(i + 10, "new york rains and the office sleeps") for i in range(3)],
        schema)
    c_dir, t_dir = str(tmp_path / "c"), str(tmp_path / "t")
    snapshot_overwrite(
        spark.createDataFrame([], PMI_COUNTS_SCHEMA), c_dir, -1)
    process = streaming_pmi_ingest(
        counts_dir=c_dir, topk_dir=t_dir, min_count=2, top_k=20)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted((r.a, r.b, r.n_ab, r.pmi, r.rk) for r in df.collect())

    process(b1, 0)
    out = spark.read.parquet(t_dir)
    assert canon(out.filter(F.col("_epoch") == 0)) == canon(
        pmi_collocations(b1, "doc_id", "text", min_count=2, top_k=20))

    process(b2, 1)
    out = spark.read.parquet(t_dir)
    # epoch 1's top-k == batch over the FULL corpus so far
    assert canon(out.filter(F.col("_epoch") == 1)) == canon(
        pmi_collocations(b1.unionByName(b2), "doc_id", "text",
                         min_count=2, top_k=20))

    n_before = out.count()
    process(b2, 1)  # simulated retry
    assert spark.read.parquet(t_dir).count() == n_before
    state = snapshot_before(spark, c_dir, 99)
    assert state.filter((F.col("a") == "new") & (F.col("b") == "york")
                        ).first().n_ab == 6


def test_streaming_rolling_full_parity_and_bounded_tail(spark, tmp_path):
    """For in-order ingest the rolling twin's emitted scores equal the
    batch operator over everything ingested so far (frames only need
    the last n-1 retained rows), the tail state stays bounded at
    |keys| x (n-1), and a retried epoch changes nothing."""
    from datetime import datetime, timedelta

    from meshinsights_data_pipeline_spark.operators.rollup import (
        rolling_stats,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_before,
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_rolling_ingest,
    )
    from meshinsights_data_pipeline_spark.streaming.rolling import (
        rolling_state_schema,
    )

    base = datetime(2024, 1, 1)
    schema = "user_id long, ts timestamp, event_id long, value double"
    mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(u, base + timedelta(hours=i), u * 100 + i, float(i))
         for u in (1, 2) for i in range(lo, hi)], schema)
    b1, b2 = mk(0, 4), mk(4, 9)
    t_dir, s_dir = str(tmp_path / "t"), str(tmp_path / "s")
    snapshot_overwrite(
        spark.createDataFrame([], rolling_state_schema()), t_dir, -1)
    process = streaming_rolling_ingest(
        ["user_id"], tail_dir=t_dir, scores_dir=s_dir, n=3)

    def canon(df):
        return sorted((r.user_id, r.event_id, r.roll_n, r.roll_sum,
                       r.roll_avg) for r in df.collect())

    process(b1, 0)
    process(b2, 1)
    got = canon(spark.read.parquet(s_dir))
    expect = canon(rolling_stats(
        b1.unionByName(b2), "ts", ["user_id"], "value", "event_id", n=3)
        .withColumnRenamed("value", "value"))
    assert got == expect  # FULL parity incl. frames spanning the seam

    n_before = len(got)
    process(b2, 1)  # simulated retry
    assert spark.read.parquet(s_dir).count() == n_before
    tail = snapshot_before(spark, t_dir, 99)
    assert tail.count() == 2 * 2  # |keys| x (n-1)


def test_streaming_rolling_nan_at_seam_keeps_parity(spark, tmp_path):
    """NULL/NaN-valued rows at the tail of a batch must NOT enter the
    retained tail: rolling_stats excludes them from frames, so an
    unguarded one would evict a real observation from the last-(n-1)
    tail and the NEXT batch's roll_sum would diverge from the batch
    operator over the full history (ADVICE r12 medium)."""
    from datetime import datetime, timedelta

    from meshinsights_data_pipeline_spark.operators.rollup import (
        rolling_stats,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_rolling_ingest,
    )
    from meshinsights_data_pipeline_spark.streaming.rolling import (
        rolling_state_schema,
    )

    base = datetime(2024, 1, 1)
    schema = "user_id long, ts timestamp, event_id long, value double"
    row = lambda i, v: (1, base + timedelta(hours=i), 100 + i, v)  # noqa: E731
    # Batch 1 ends with a NaN and a NULL — the newest rows by (ts, id),
    # exactly what an unguarded tail window would retain.
    b1 = spark.createDataFrame(
        [row(0, 1.0), row(1, 2.0), row(2, float("nan")), row(3, None)],
        schema)
    b2 = spark.createDataFrame([row(4, 4.0), row(5, 5.0)], schema)
    t_dir, s_dir = str(tmp_path / "t"), str(tmp_path / "s")
    snapshot_overwrite(
        spark.createDataFrame([], rolling_state_schema()), t_dir, -1)
    process = streaming_rolling_ingest(
        ["user_id"], tail_dir=t_dir, scores_dir=s_dir, n=3)
    process(b1, 0)
    process(b2, 1)

    def canon(df):
        return sorted((r.user_id, r.event_id, r.roll_n, r.roll_sum,
                       r.roll_avg) for r in df.collect())

    got = canon(spark.read.parquet(s_dir))
    expect = canon(rolling_stats(
        b1.unionByName(b2), "ts", ["user_id"], "value", "event_id", n=3))
    # Full parity: event 104's frame is (1.0, 2.0, 4.0) — the NaN/NULL
    # rows neither score nor occupy tail slots.
    assert got == expect
    assert (1, 104, 3, 7.0, round(7.0 / 3, 6)) in got


def test_streaming_cusum_full_parity_and_scalar_state(spark, tmp_path):
    """Streamed CUSUM scores are bit-identical to the batch operator
    over everything ingested so far: the carry folds into the running-
    min floor as exact decimals (state = two scalars per key). The
    series drifts up across the seam so batch 2's scores are wrong
    unless the carry participates; NULL/NaN rows at the seam must not
    perturb carried state; a retried epoch changes nothing."""
    from datetime import datetime, timedelta

    from meshinsights_data_pipeline_spark.operators.changepoint import (
        cusum_changepoints,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_before,
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_cusum_ingest,
    )
    from meshinsights_data_pipeline_spark.streaming.cusum import (
        cusum_state_schema,
    )

    base = datetime(2024, 1, 1)
    schema = "user_id long, ts timestamp, event_id long, value double"
    # user 1: level 10 then a +3 shift whose ramp STRADDLES the seam;
    # user 2: drifts down (exercises s_minus carry); NaN/NULL at seam
    b1 = spark.createDataFrame(
        [(1, base + timedelta(hours=i), 100 + i, v)
         for i, v in enumerate([10.0, 9.9, 13.0, 13.1])]
        + [(2, base + timedelta(hours=i), 200 + i, v)
           for i, v in enumerate([7.0, 6.5, 6.0])]
        + [(1, base + timedelta(hours=4), 104, float("nan")),
           (2, base + timedelta(hours=3), 203, None)], schema)
    b2 = spark.createDataFrame(
        [(1, base + timedelta(hours=5 + i), 105 + i, v)
         for i, v in enumerate([13.2, 12.8])]
        + [(2, base + timedelta(hours=4 + i), 204 + i, v)
           for i, v in enumerate([5.5, 5.0])]
        # user 3 first appears mid-stream: NULL carry must read as 0
        + [(3, base + timedelta(hours=1), 300, 16.0)], schema)
    s_dir, o_dir = str(tmp_path / "st"), str(tmp_path / "out")
    snapshot_overwrite(
        spark.createDataFrame([], cusum_state_schema()), s_dir, -1)
    process = streaming_cusum_ingest(
        ["user_id"], state_dir=s_dir, scores_dir=o_dir,
        target=10.0, slack=0.5, threshold=4.0)
    process(b1, 0)
    process(b2, 1)

    def canon(df):
        return sorted((r.user_id, r.event_id, r.s_plus, r.s_minus,
                       r.alarm_up, r.alarm_down) for r in df.collect())

    got = canon(spark.read.parquet(o_dir))
    expect = canon(cusum_changepoints(
        b1.unionByName(b2), "ts", ["user_id"], "value", "event_id",
        target=10.0, slack=0.5, threshold=4.0))
    assert got == expect  # bit parity incl. the seam-straddling ramp
    # the shift is only detectable WITH the carry: batch 2 alone starts
    # from 0 and could not alarm by its second row
    assert any(r[1] == 106 and r[4] for r in got)       # user 1 alarm_up
    assert any(r[0] == 2 and r[5] for r in got)         # user 2 alarm_down
    # mid-stream key: scored from a zero carry, alarms immediately
    assert any(r[1] == 300 and r[2] == 5.5 and r[4] for r in got)
    # state is two exact scalars per key
    st = snapshot_before(spark, s_dir, 99)
    assert st.count() == 3 and set(st.columns) == {"user_id", "_sp", "_sm"}
    n_before = len(got)
    process(b2, 1)  # simulated retry
    assert spark.read.parquet(o_dir).count() == n_before


def test_streaming_twin_checkpoints_released_each_epoch(spark, tmp_path):
    """The CUSUM and rolling twins, run concurrently through
    ``parallel_batch``, free their local checkpoints at the end of every
    epoch: no persisted RDD outlives an epoch, and the scores still equal
    the batch operators over all ingested rows."""
    from datetime import datetime, timedelta

    from meshinsights_data_pipeline_spark.operators.changepoint import (
        cusum_changepoints,
    )
    from meshinsights_data_pipeline_spark.operators.rollup import (
        rolling_stats,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        parallel_batch,
        streaming_cusum_ingest,
        streaming_rolling_ingest,
    )
    from meshinsights_data_pipeline_spark.streaming.cusum import (
        cusum_state_schema,
    )
    from meshinsights_data_pipeline_spark.streaming.rolling import (
        rolling_state_schema,
    )

    base = datetime(2024, 1, 1)
    schema = "user_id long, ts timestamp, event_id long, value double"
    batches = [
        spark.createDataFrame(
            [(u, base + timedelta(hours=4 * e + i), u * 1000 + 4 * e + i,
              float((u * 7 + 4 * e + i) % 11))
             for u in (1, 2, 3) for i in range(4)], schema)
        for e in range(5)
    ]
    d = {n: str(tmp_path / n) for n in ("cs", "co", "rs", "ro")}
    snapshot_overwrite(
        spark.createDataFrame([], cusum_state_schema()), d["cs"], -1)
    snapshot_overwrite(
        spark.createDataFrame([], rolling_state_schema()), d["rs"], -1)
    cusum = dict(target=5.0, slack=0.5, threshold=8.0)
    process = parallel_batch(
        streaming_cusum_ingest(["user_id"], state_dir=d["cs"],
                               scores_dir=d["co"], **cusum),
        streaming_rolling_ingest(["user_id"], tail_dir=d["rs"],
                                 scores_dir=d["ro"], n=3),
    )
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    for epoch, batch in enumerate(batches):
        before = persisted()
        process(batch, epoch)
        assert persisted() <= before, epoch

    rows = batches[0]
    for b in batches[1:]:
        rows = rows.unionByName(b)

    def canon(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    c_cols = ["user_id", "event_id", "s_plus", "s_minus", "alarm_up", "alarm_down"]
    assert canon(spark.read.parquet(d["co"]), c_cols) == canon(
        cusum_changepoints(rows, "ts", ["user_id"], "value", "event_id", **cusum), c_cols)
    r_cols = ["user_id", "event_id", "roll_n", "roll_sum", "roll_avg"]
    assert canon(spark.read.parquet(d["ro"]), r_cols) == canon(
        rolling_stats(rows, "ts", ["user_id"], "value", "event_id", n=3), r_cols)


def test_only_the_state_helper_touches_twin_state():
    """Source-only guard (no Spark): every streaming twin runs its epoch
    through ``streaming.state.state_twin``, so no other ``streaming/``
    module imports or calls the versioned-state reads and writes itself.
    Read-only helpers may keep ``latest_snapshot``."""
    import ast
    import pathlib

    import meshinsights_data_pipeline_spark.streaming as streaming

    owned = {
        "snapshot_before",
        "snapshot_overwrite",
        "snapshot_overwrite_read",
        "idempotent_epoch_append",
    }
    found = []
    for path in sorted(pathlib.Path(streaming.__file__).parent.glob("*.py")):
        if path.name == "state.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom):
                names = {a.name for a in node.names}
            elif isinstance(node, ast.Attribute):
                names = {node.attr}
            elif isinstance(node, ast.Name):
                names = {node.id}
            else:
                continue
            found += [f"{path.name}:{node.lineno} {n}" for n in names & owned]
    assert found == []


def test_streaming_ks_full_parity_and_retry(spark, tmp_path):
    """KS twin: single-batch report equals the batch operator exactly;
    after a second batch the epoch-1 report equals the batch operator
    over the UNION (counts are a mergeable sufficient statistic — FULL
    cross-batch parity); a retried epoch leaves state and reports
    unchanged."""
    from meshinsights_data_pipeline_spark.operators.stats import ks_drift
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import streaming_ks_ingest

    schema = "source string, value double"
    b1 = spark.createDataFrame(
        [("web", 1.0), ("web", 2.0), ("web", 2.0), ("pdf", 5.0),
         ("pdf", 1.0), ("web", 7.5)], schema)
    b2 = spark.createDataFrame(
        [("pdf", 2.0), ("forum", 9.0), ("web", 5.0), ("forum", 1.0)],
        schema)
    cdir, rdir = str(tmp_path / "counts"), str(tmp_path / "report")
    snapshot_overwrite(
        spark.createDataFrame([], "g string, _v double, _c_gv long"),
        cdir, -1)

    process = streaming_ks_ingest(
        b1, "source", "value", counts_dir=cdir, report_dir=rdir)
    process = released_each_epoch(spark, process)

    def canon(df, gcol="g"):
        return sorted((r[gcol], r["n"], r["ks"]) for r in df.collect())

    process(b1, 0)
    got0 = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 0))
    assert got0 == canon(ks_drift(b1, "source", "value"), "source")

    process(b2, 1)
    all_reports = spark.read.parquet(rdir)
    got1 = canon(all_reports.filter(F.col("epoch") == 1))
    assert got1 == canon(
        ks_drift(b1.unionByName(b2), "source", "value"), "source")
    # epoch-0 report is immutable history (the KS time series)
    assert canon(all_reports.filter(F.col("epoch") == 0)) == got0

    process(b2, 1)  # simulated micro-batch retry
    after = spark.read.parquet(rdir)
    assert canon(after.filter(F.col("epoch") == 1)) == got1
    # 2 groups in epoch 0 + 3 in epoch 1, no duplicated rows
    assert after.count() == 5


def test_streaming_benford_full_parity_and_retry(spark, tmp_path):
    """Benford twin: single-batch report equals the batch operator;
    epoch-1 equals the batch operator over the UNION (9-rows-per-group
    digit counts are a mergeable sufficient statistic); a retried epoch
    changes nothing."""
    from meshinsights_data_pipeline_spark.operators.dq import (
        benford_deviation,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_benford_ingest,
    )

    schema = "source string, value double"
    b1 = spark.createDataFrame(
        [("web", 123.4), ("web", 19.0), ("web", 2.5), ("pdf", 888.0),
         ("pdf", 41.0)], schema)
    b2 = spark.createDataFrame(
        [("pdf", 105.0), ("web", 77.0), ("web", 0.31)], schema)
    cdir, rdir = str(tmp_path / "counts"), str(tmp_path / "report")
    snapshot_overwrite(
        spark.createDataFrame([], "g string, _d int, _c long"), cdir, -1)

    process = streaming_benford_ingest(
        b1, "source", "value", counts_dir=cdir, report_dir=rdir)
    process = released_each_epoch(spark, process)

    def canon(df, gcol="g"):
        return sorted(
            (r[gcol], r["n"], r["chi2"], r["max_dev"]) for r in df.collect())

    process(b1, 0)
    got0 = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 0))
    assert got0 == canon(benford_deviation(b1, "source", "value"), "source")

    process(b2, 1)
    all_reports = spark.read.parquet(rdir)
    got1 = canon(all_reports.filter(F.col("epoch") == 1))
    assert got1 == canon(
        benford_deviation(b1.unionByName(b2), "source", "value"), "source")
    assert canon(all_reports.filter(F.col("epoch") == 0)) == got0

    process(b2, 1)  # simulated micro-batch retry
    after = spark.read.parquet(rdir)
    assert canon(after.filter(F.col("epoch") == 1)) == got1
    assert after.count() == 4  # 2 groups per epoch, no duplicates


def test_streaming_km_full_parity_and_retry(spark, tmp_path):
    """KM twin: the merged (group, duration) spine reproduces the batch
    curve exactly after each epoch (terminal observations streamed
    once); a retried epoch changes nothing."""
    from meshinsights_data_pipeline_spark.operators.survival import (
        km_survival,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import streaming_km_ingest

    schema = "cohort int, dur long, churned boolean"
    b1 = spark.createDataFrame(
        [(0, 5, True), (0, 5, False), (0, 9, True), (1, 3, True),
         (1, 7, False)], schema)
    b2 = spark.createDataFrame(
        [(0, 2, True), (1, 7, True), (1, 11, False)], schema)
    cdir, rdir = str(tmp_path / "counts"), str(tmp_path / "report")
    snapshot_overwrite(
        spark.createDataFrame([], "cohort int, _t long, _c long, _d long"),
        cdir, -1)

    process = streaming_km_ingest(
        b1, ["cohort"], "dur", "churned", counts_dir=cdir, report_dir=rdir)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted(
            (r["cohort"], r["t"], r["n_risk"], r["n_events"], r["survival"])
            for r in df.collect())

    process(b1, 0)
    got0 = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 0))
    assert got0 == canon(km_survival(b1, ["cohort"], "dur", "churned"))

    process(b2, 1)
    all_reports = spark.read.parquet(rdir)
    got1 = canon(all_reports.filter(F.col("epoch") == 1))
    assert got1 == canon(
        km_survival(b1.unionByName(b2), ["cohort"], "dur", "churned"))
    assert canon(all_reports.filter(F.col("epoch") == 0)) == got0

    process(b2, 1)  # simulated micro-batch retry
    after = spark.read.parquet(rdir)
    assert canon(after.filter(F.col("epoch") == 1)) == got1


def test_streaming_entropy_full_parity_and_retry(spark, tmp_path):
    """Entropy twin: hashed-token state matches the batch operator on a
    collision-free vocabulary (entropy/Gini are count-multiset
    functions, invariant under INJECTIVE token renaming — a 60-bit
    collision would merge two types; see streaming/entropy.py's
    probabilistic-parity caveat); epoch-1 equals the batch operator
    over the UNION; a retried epoch changes nothing."""
    from meshinsights_data_pipeline_spark.operators.corpus import (
        source_token_entropy,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_entropy_ingest,
    )

    schema = "doc_id long, source string, text string"
    b1 = spark.createDataFrame(
        [(1, "web", "spark rows and columns and rows"),
         (2, "web", "columns of rows"),
         (3, "pdf", "entirely different words here")], schema)
    b2 = spark.createDataFrame(
        [(4, "pdf", "words words repeat here"),
         (5, "forum", "fresh source appears mid stream")], schema)
    cdir, rdir = str(tmp_path / "counts"), str(tmp_path / "report")
    snapshot_overwrite(
        spark.createDataFrame([], "source string, _tok long, _c long"),
        cdir, -1)

    process = streaming_entropy_ingest(
        b1, counts_dir=cdir, report_dir=rdir)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted(
            (r["source"], r["n_tokens"], r["n_types"], r["entropy"],
             r["norm_entropy"], r["gini"])
            for r in df.collect())

    process(b1, 0)
    got0 = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 0))
    assert got0 == canon(source_token_entropy(b1, "source", "text"))

    process(b2, 1)
    all_reports = spark.read.parquet(rdir)
    got1 = canon(all_reports.filter(F.col("epoch") == 1))
    assert got1 == canon(
        source_token_entropy(b1.unionByName(b2), "source", "text"))
    assert canon(all_reports.filter(F.col("epoch") == 0)) == got0

    process(b2, 1)  # simulated micro-batch retry
    after = spark.read.parquet(rdir)
    assert canon(after.filter(F.col("epoch") == 1)) == got1
    assert after.count() == 5


def test_streaming_abtest_full_parity_and_retry(spark, tmp_path):
    """A/B twin: integer cell counts merge exactly, so every epoch's
    report equals the batch operator over everything ingested —
    including arms and experiments that first APPEAR mid-stream and a
    missing-control experiment surfacing has_control=false; a retried
    epoch changes nothing."""
    from meshinsights_data_pipeline_spark.operators.abtest import (
        ab_test_zscores,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_abtest_ingest,
    )

    schema = "experiment string, arm string, converted boolean"
    b1 = spark.createDataFrame(
        [("e1", "control", True)] * 10 + [("e1", "control", False)] * 90
        + [("e1", "t1", True)] * 20 + [("e1", "t1", False)] * 80
        + [("e2", "t1", True)] * 5,            # control-less, surfaces
        schema)
    b2 = spark.createDataFrame(
        [("e1", "t1", True)] * 30 + [("e1", "t2", False)] * 15
        + [("e2", "control", True)] * 4,       # control appears late
        schema)
    cdir, rdir = str(tmp_path / "cells"), str(tmp_path / "report")
    snapshot_overwrite(
        spark.createDataFrame(
            [], "experiment string, arm string, n long, x long"),
        cdir, -1)

    process = streaming_abtest_ingest(
        b1, cells_dir=cdir, report_dir=rdir)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted(
            (r["experiment"], r["arm"], r["n_control"], r["x_control"],
             r["n_arm"], r["x_arm"], r["has_control"], r["p_control"],
             r["p_arm"], r["lift"], r["z"], r["significant"])
            for r in df.collect())

    process(b1, 0)
    got0 = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 0))
    assert got0 == canon(ab_test_zscores(
        b1, "experiment", "arm", "converted", control_label="control"))
    assert any(r[6] is False for r in got0)    # e2 surfaced flagged

    process(b2, 1)
    all_reports = spark.read.parquet(rdir)
    got1 = canon(all_reports.filter(F.col("epoch") == 1))
    assert got1 == canon(ab_test_zscores(
        b1.unionByName(b2), "experiment", "arm", "converted",
        control_label="control"))
    assert canon(all_reports.filter(F.col("epoch") == 0)) == got0

    process(b2, 1)  # simulated micro-batch retry
    after = spark.read.parquet(rdir)
    assert canon(after.filter(F.col("epoch") == 1)) == got1


def test_streaming_mann_whitney_full_parity_and_retry(spark, tmp_path):
    """Mann-Whitney twin: the (experiment, arm, value) count table
    merges exactly, so every epoch's U/z equals the batch operator
    over everything ingested (the whole average-rank algebra is a
    function of the count table), including values and arms first
    appearing mid-stream; the bounded-state buckets tier requires
    explicit bounds; a retried epoch changes nothing."""
    import pytest

    from meshinsights_data_pipeline_spark.operators.abtest import (
        mann_whitney_u,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_mann_whitney_ingest,
    )

    with pytest.raises(ValueError, match="explicit bounds"):
        streaming_mann_whitney_ingest(
            None, cells_dir="x", report_dir="y", buckets=4)

    schema = "experiment string, arm string, value double"
    b1 = spark.createDataFrame(
        [("e1", "control", float(v)) for v in (1, 2, 2, 3, 5, 8)]
        + [("e1", "t1", float(v)) for v in (2, 3, 3, 9)], schema)
    b2 = spark.createDataFrame(
        [("e1", "control", 2.0), ("e1", "t1", 7.0), ("e1", "t2", 4.0)],
        schema)
    cdir, rdir = str(tmp_path / "cells"), str(tmp_path / "report")
    snapshot_overwrite(
        spark.createDataFrame(
            [], "experiment string, arm string, _v double, _c long"),
        cdir, -1)

    process = streaming_mann_whitney_ingest(
        b1, cells_dir=cdir, report_dir=rdir)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted(
            (r["experiment"], r["arm"], r["n_control"], r["n_arm"],
             r["has_control"], r["u"], r["z"], r["significant"])
            for r in df.collect())

    process(b1, 0)
    got0 = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 0))
    assert got0 == canon(mann_whitney_u(
        b1, "experiment", "arm", "value", control_label="control"))

    process(b2, 1)
    all_reports = spark.read.parquet(rdir)
    got1 = canon(all_reports.filter(F.col("epoch") == 1))
    assert got1 == canon(mann_whitney_u(
        b1.unionByName(b2), "experiment", "arm", "value",
        control_label="control"))
    assert canon(all_reports.filter(F.col("epoch") == 0)) == got0

    process(b2, 1)  # simulated micro-batch retry
    after = spark.read.parquet(rdir)
    assert canon(after.filter(F.col("epoch") == 1)) == got1


def test_streaming_chi2_full_parity_and_retry(spark, tmp_path):
    """chi2 twin: integer contingency cells merge exactly, so every
    epoch's chi2/Cramér's V equals the batch operator over everything
    ingested, including levels that first appear mid-stream; a retried
    epoch changes nothing."""
    from meshinsights_data_pipeline_spark.operators.dq import (
        chi2_independence,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_chi2_ingest,
    )

    schema = "x string, y string"
    b1 = spark.createDataFrame(
        [("a1", "b1")] * 12 + [("a1", "b2")] * 3
        + [("a2", "b1")] * 4 + [("a2", "b2")] * 9, schema)
    b2 = spark.createDataFrame(
        [("a1", "b1")] * 2 + [("a3", "b3")] * 7, schema)  # new levels
    cdir, rdir = str(tmp_path / "cells"), str(tmp_path / "report")
    snapshot_overwrite(
        spark.createDataFrame([], "_a string, _b string, _o long"),
        cdir, -1)

    process = streaming_chi2_ingest(
        b1, "x", "y", cells_dir=cdir, report_dir=rdir)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted(
            (r["n"], r["r_levels"], r["c_levels"], r["dof"], r["chi2"],
             r["cramers_v"])
            for r in df.collect())

    process(b1, 0)
    got0 = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 0))
    assert got0 == canon(chi2_independence(b1, "x", "y"))

    process(b2, 1)
    all_reports = spark.read.parquet(rdir)
    got1 = canon(all_reports.filter(F.col("epoch") == 1))
    assert got1 == canon(chi2_independence(b1.unionByName(b2), "x", "y"))
    assert canon(all_reports.filter(F.col("epoch") == 0)) == got0

    process(b2, 1)  # simulated micro-batch retry
    after = spark.read.parquet(rdir)
    assert canon(after.filter(F.col("epoch") == 1)) == got1
    assert after.count() == 2


def test_streaming_jsd_full_parity_and_retry(spark, tmp_path):
    """JS twin: hashed-token state matches the batch operator on a
    collision-free vocabulary (JS depends only on per-token (p, q)
    count pairs, invariant under INJECTIVE renaming — the entropy
    twin's probabilistic-parity caveat applies); epoch-1 equals the
    batch operator over the UNION; a retried epoch changes nothing."""
    from meshinsights_data_pipeline_spark.operators.corpus import (
        source_js_divergence,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_jsd_ingest,
    )

    schema = "doc_id long, source string, text string"
    b1 = spark.createDataFrame(
        [(1, "web", "spark rows and columns and rows"),
         (2, "web", "columns of rows"),
         (3, "pdf", "entirely different words here")], schema)
    b2 = spark.createDataFrame(
        [(4, "pdf", "words words repeat here"),
         (5, "forum", "fresh source appears mid stream")], schema)
    cdir, rdir = str(tmp_path / "counts"), str(tmp_path / "report")
    snapshot_overwrite(
        spark.createDataFrame([], "source string, _tok long, _c long"),
        cdir, -1)

    process = streaming_jsd_ingest(
        b1, counts_dir=cdir, report_dir=rdir)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted(
            (r["source"], r["n_tokens"], r["n_types"], r["js"],
             r["js_norm"])
            for r in df.collect())

    process(b1, 0)
    got0 = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 0))
    assert got0 == canon(source_js_divergence(b1, "source", "text"))

    process(b2, 1)
    all_reports = spark.read.parquet(rdir)
    got1 = canon(all_reports.filter(F.col("epoch") == 1))
    assert got1 == canon(
        source_js_divergence(b1.unionByName(b2), "source", "text"))
    assert canon(all_reports.filter(F.col("epoch") == 0)) == got0

    process(b2, 1)  # simulated micro-batch retry
    after = spark.read.parquet(rdir)
    assert canon(after.filter(F.col("epoch") == 1)) == got1
    assert after.count() == 5


def test_streaming_auc_full_parity_and_retry(spark, tmp_path):
    """AUC twin: integer (group, score) pos/neg cells merge exactly, so
    every epoch's report equals the batch rank-sum AUC over everything
    ingested — including a group whose second class first APPEARS
    mid-stream (NULL auc surfaces until then); a retried epoch changes
    nothing."""
    from meshinsights_data_pipeline_spark.operators.mleval import roc_auc
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_auc_ingest,
    )

    schema = "g string, y boolean, s double"
    b1 = spark.createDataFrame(
        [("m1", True, 0.9), ("m1", True, 0.4), ("m1", False, 0.4),
         ("m1", False, 0.1),
         ("m2", True, 0.8), ("m2", True, 0.6)],   # one-class so far
        schema)
    b2 = spark.createDataFrame(
        [("m1", True, 0.7), ("m1", False, 0.9),
         ("m2", False, 0.5)],                      # class arrives late
        schema)
    cdir, rdir = str(tmp_path / "cells"), str(tmp_path / "report")
    snapshot_overwrite(
        spark.createDataFrame(
            [], "g string, _v double, _pos long, _neg long"),
        cdir, -1)

    process = streaming_auc_ingest(
        b1, group_col="g", label_col="y", score_col="s",
        cells_dir=cdir, report_dir=rdir)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted(
            (r["g"], r["n_pos"], r["n_neg"], r["auc"])
            for r in df.collect())

    process(b1, 0)
    got0 = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 0))
    assert got0 == canon(roc_auc(b1, ["g"], "y", "s"))
    assert any(r[3] is None for r in got0)      # m2 one-class surfaced

    process(b2, 1)
    all_reports = spark.read.parquet(rdir)
    got1 = canon(all_reports.filter(F.col("epoch") == 1))
    assert got1 == canon(roc_auc(b1.unionByName(b2), ["g"], "y", "s"))
    assert canon(all_reports.filter(F.col("epoch") == 0)) == got0

    process(b2, 1)  # simulated micro-batch retry
    after = spark.read.parquet(rdir)
    assert canon(after.filter(F.col("epoch") == 1)) == got1
    assert after.count() == 4


def test_streaming_calibration_full_parity_and_retry(spark, tmp_path):
    """Calibration twin: per-(group, bin) integer counts and
    DECIMAL(38,12) moment folds merge exactly (exact sums over a fixed
    quantum), so every epoch's ECE/MCE/Brier equals the batch operator
    over everything ingested — including the clamp-edge bins; a
    retried epoch changes nothing."""
    from meshinsights_data_pipeline_spark.operators.mleval import (
        calibration_report,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_calibration_ingest,
    )

    schema = "g string, s double, y boolean"
    b1 = spark.createDataFrame(
        [("m1", 0.05, False), ("m1", 0.15, True), ("m1", 0.95, True),
         ("m1", 1.4, True),                       # clamps into bin 9
         ("m2", 0.5, False)],
        schema)
    b2 = spark.createDataFrame(
        [("m1", 0.95, False), ("m1", -0.2, False),  # clamps into bin 0
         ("m2", 0.55, True)],
        schema)
    sdir, rdir = str(tmp_path / "state"), str(tmp_path / "report")
    snapshot_overwrite(
        spark.createDataFrame(
            [],
            "g string, _b int, _n long, _np long, "
            "_ssum decimal(38,12), _rsum decimal(38,12)"),
        sdir, -1)

    process = streaming_calibration_ingest(
        b1, group_col="g", score_col="s", label_col="y",
        bins=10, state_dir=sdir, report_dir=rdir)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted(
            (r["g"], r["n"], r["ece"], r["mce"], r["brier"])
            for r in df.collect())

    process(b1, 0)
    got0 = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 0))
    assert got0 == canon(calibration_report(b1, ["g"], "s", "y", bins=10))

    process(b2, 1)
    all_reports = spark.read.parquet(rdir)
    got1 = canon(all_reports.filter(F.col("epoch") == 1))
    assert got1 == canon(
        calibration_report(b1.unionByName(b2), ["g"], "s", "y", bins=10))
    assert canon(all_reports.filter(F.col("epoch") == 0)) == got0

    process(b2, 1)  # simulated micro-batch retry
    after = spark.read.parquet(rdir)
    assert canon(after.filter(F.col("epoch") == 1)) == got1
    assert after.count() == 4


def test_streaming_bootstrap_full_parity_and_retry(spark, tmp_path):
    """Bootstrap twin: the per-(group, replicate) Poisson moments are a
    mergeable sufficient statistic (weights are pure functions of
    (id, b); decimal/integer sums merge exactly), so every epoch's
    mean + CI equals the batch operator over everything ingested; a
    retried epoch changes nothing."""
    from meshinsights_data_pipeline_spark.operators.bootstrap import (
        bootstrap_mean_ci,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_bootstrap_ingest,
    )

    schema = "g string, id long, v double"
    b1 = spark.createDataFrame(
        [("m1", i, float((i * 7) % 23)) for i in range(20)]
        + [("m2", 100 + i, float(i % 5)) for i in range(5)],
        schema)
    b2 = spark.createDataFrame(
        [("m1", 200 + i, float((i * 3) % 11)) for i in range(8)]
        + [("m3", 300, 42.0)],                 # group appears mid-stream
        schema)
    sdir, rdir = str(tmp_path / "state"), str(tmp_path / "report")
    snapshot_overwrite(
        spark.createDataFrame(
            [],
            "g string, _b int, _s decimal(38,12), _n_w long, _rows long"),
        sdir, -1)

    B = 12
    process = streaming_bootstrap_ingest(
        b1, group_col="g", value_col="v", id_col="id",
        b=B, state_dir=sdir, report_dir=rdir)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted(
            (r["g"], r["n"], r["b_reps"], r["mean"], r["ci_lo"], r["ci_hi"])
            for r in df.collect())

    process(b1, 0)
    got0 = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 0))
    assert got0 == canon(bootstrap_mean_ci(b1, ["g"], "v", "id", b=B))

    process(b2, 1)
    all_reports = spark.read.parquet(rdir)
    got1 = canon(all_reports.filter(F.col("epoch") == 1))
    assert got1 == canon(
        bootstrap_mean_ci(b1.unionByName(b2), ["g"], "v", "id", b=B))
    assert canon(all_reports.filter(F.col("epoch") == 0)) == got0

    process(b2, 1)  # simulated micro-batch retry
    after = spark.read.parquet(rdir)
    assert canon(after.filter(F.col("epoch") == 1)) == got1
    assert after.count() == 5


def test_streaming_sprt_full_parity_and_retry(spark, tmp_path):
    """SPRT twin: the [n, x] cells (the A/B-z twin's own state shape)
    merge exactly, so every epoch's decisions equal sprt_bernoulli over
    everything ingested — including an arm crossing from 'continue' to
    a boundary as evidence accumulates; a retried epoch changes
    nothing."""
    from meshinsights_data_pipeline_spark.operators.abtest import (
        sprt_bernoulli,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_sprt_ingest,
    )

    schema = "experiment string, arm string, converted boolean"
    # e1/t1 converts at ~0.6 vs p0=0.3/p1=0.35 — accepts H1 once
    # enough evidence lands; e1/control at ~0.05 heads for H0.
    b1 = spark.createDataFrame(
        [("e1", "t1", True)] * 12 + [("e1", "t1", False)] * 8
        + [("e1", "control", False)] * 20 + [("e1", "control", True)],
        schema)
    b2 = spark.createDataFrame(
        [("e1", "t1", True)] * 30 + [("e1", "t1", False)] * 20
        + [("e1", "control", False)] * 40
        + [("e2", "t1", True)] * 3,            # appears mid-stream
        schema)
    cdir, rdir = str(tmp_path / "cells"), str(tmp_path / "report")
    snapshot_overwrite(
        spark.createDataFrame(
            [], "experiment string, arm string, n long, x long"),
        cdir, -1)

    process = streaming_sprt_ingest(
        b1, p0=0.3, p1=0.35, cells_dir=cdir, report_dir=rdir)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted(
            (r["experiment"], r["arm"], r["n"], r["x"], r["llr"],
             r["decision"])
            for r in df.collect())

    process(b1, 0)
    got0 = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 0))
    assert got0 == canon(sprt_bernoulli(
        b1, "experiment", "arm", "converted", p0=0.3, p1=0.35))

    process(b2, 1)
    all_reports = spark.read.parquet(rdir)
    got1 = canon(all_reports.filter(F.col("epoch") == 1))
    assert got1 == canon(sprt_bernoulli(
        b1.unionByName(b2), "experiment", "arm", "converted",
        p0=0.3, p1=0.35))
    assert canon(all_reports.filter(F.col("epoch") == 0)) == got0
    # the epoch series shows decisions RESOLVING as evidence lands
    assert {r[5] for r in got1} & {"accept_h1", "accept_h0"}

    process(b2, 1)  # simulated micro-batch retry
    after = spark.read.parquet(rdir)
    assert canon(after.filter(F.col("epoch") == 1)) == got1


def test_streaming_hll_full_parity_and_retry(spark, tmp_path):
    """HLL twin: registers are a MAX-mergeable sufficient statistic
    (register build is a pure per-row function, max-of-maxes =
    max-of-union), so every epoch's estimate equals hll_cardinality
    over everything ingested — exact by construction, no hashed-state
    caveat; a retried epoch changes nothing."""
    from meshinsights_data_pipeline_spark.operators.sketch import (
        hll_cardinality,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_hll_ingest,
    )

    schema = "g string, v string"
    b1 = spark.createDataFrame(
        [("s1", f"a{i}") for i in range(300)]
        + [("s2", f"b{i}") for i in range(40)],
        schema)
    b2 = spark.createDataFrame(
        [("s1", f"a{i}") for i in range(100)]     # overlap: re-seen values
        + [("s1", f"c{i}") for i in range(150)]
        + [("s3", "new-group")],                  # group appears mid-stream
        schema)
    sdir, rdir = str(tmp_path / "state"), str(tmp_path / "report")
    snapshot_overwrite(
        spark.createDataFrame([], "g string, _reg int, _rho int"),
        sdir, -1)

    P = 6
    process = streaming_hll_ingest(
        b1, group_col="g", value_col="v", p=P,
        state_dir=sdir, report_dir=rdir)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted(
            (r["g"], r["n_registers"], r["estimate"])
            for r in df.collect())

    process(b1, 0)
    got0 = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 0))
    assert got0 == canon(hll_cardinality(b1, ["g"], "v", p=P))

    process(b2, 1)
    all_reports = spark.read.parquet(rdir)
    got1 = canon(all_reports.filter(F.col("epoch") == 1))
    assert got1 == canon(
        hll_cardinality(b1.unionByName(b2), ["g"], "v", p=P))
    assert canon(all_reports.filter(F.col("epoch") == 0)) == got0

    process(b2, 1)  # simulated micro-batch retry
    after = spark.read.parquet(rdir)
    assert canon(after.filter(F.col("epoch") == 1)) == got1
    assert after.count() == 5


def test_streaming_cms_full_parity_and_retry(spark, tmp_path):
    """CMS twin: counters SUM-merge exactly, so every epoch's watch-list
    estimates equal cms_estimate over everything ingested; a retried
    epoch changes nothing."""
    from meshinsights_data_pipeline_spark.operators.sketch import (
        cms_counts,
        cms_estimate,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_cms_ingest,
    )

    schema = "g string, v string"
    b1 = spark.createDataFrame(
        [("s1", f"t{i % 9}") for i in range(90)]
        + [("s1", "hot")] * 25 + [("s2", "hot")] * 3,
        schema)
    b2 = spark.createDataFrame(
        [("s1", "hot")] * 10 + [("s2", f"u{i % 4}") for i in range(20)],
        schema)
    sdir, rdir = str(tmp_path / "state"), str(tmp_path / "report")
    snapshot_overwrite(
        spark.createDataFrame(
            [], "g string, _row int, _bucket int, _c long"),
        sdir, -1)

    D, W = 3, 32
    items = ["hot", "t0", "absent"]
    process = streaming_cms_ingest(
        b1, group_col="g", value_col="v", depth=D, width=W,
        items=items, state_dir=sdir, report_dir=rdir)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted(
            (r["g"], r["v"], r["estimate"]) for r in df.collect())

    def batch_est(df):
        items_df = spark.createDataFrame([(i,) for i in items], "v string")
        return cms_estimate(
            cms_counts(df, ["g"], "v", depth=D, width=W),
            ["g"], items_df, "v", depth=D, width=W)

    process(b1, 0)
    got0 = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 0))
    assert got0 == canon(batch_est(b1))

    process(b2, 1)
    all_reports = spark.read.parquet(rdir)
    got1 = canon(all_reports.filter(F.col("epoch") == 1))
    assert got1 == canon(batch_est(b1.unionByName(b2)))
    assert canon(all_reports.filter(F.col("epoch") == 0)) == got0

    process(b2, 1)  # simulated micro-batch retry
    after = spark.read.parquet(rdir)
    assert canon(after.filter(F.col("epoch") == 1)) == got1


def test_streaming_hist_quantile_full_parity_and_retry(spark, tmp_path):
    """Histogram-quantile twin: fixed-bound bin counts SUM-merge
    exactly, so every epoch's quantile estimates equal
    hist_quantile_estimate over everything ingested; a retried epoch
    changes nothing."""
    from meshinsights_data_pipeline_spark.operators.sketch import (
        hist_bin_counts,
        hist_quantile_estimate,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_hist_quantile_ingest,
    )

    schema = "g string, v double"
    b1 = spark.createDataFrame(
        [("s1", float(i % 40)) for i in range(100)]
        + [("s2", float(i % 7)) for i in range(20)],
        schema)
    b2 = spark.createDataFrame(
        [("s1", float(50 + i % 30)) for i in range(60)]
        + [("s3", 120.0)],  # clamps into the top bin, new group
        schema)
    sdir, rdir = str(tmp_path / "state"), str(tmp_path / "report")
    snapshot_overwrite(
        spark.createDataFrame([], "g string, _bin int, _c long"),
        sdir, -1)

    LO, HI, B, QS = 0.0, 100.0, 32, [0.5, 0.9]
    process = streaming_hist_quantile_ingest(
        b1, group_col="g", value_col="v",
        lo=LO, hi=HI, bins=B, qs=QS, state_dir=sdir, report_dir=rdir)
    process = released_each_epoch(spark, process)

    def canon(df):
        return sorted(
            (r["g"], r["q"], r["n"], r["estimate"]) for r in df.collect())

    def batch_est(df):
        return hist_quantile_estimate(
            hist_bin_counts(df, ["g"], "v", LO, HI, bins=B),
            ["g"], QS, LO, HI, bins=B)

    process(b1, 0)
    got0 = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 0))
    assert got0 == canon(batch_est(b1))

    process(b2, 1)
    all_reports = spark.read.parquet(rdir)
    got1 = canon(all_reports.filter(F.col("epoch") == 1))
    assert got1 == canon(batch_est(b1.unionByName(b2)))
    assert canon(all_reports.filter(F.col("epoch") == 0)) == got0

    process(b2, 1)  # simulated micro-batch retry
    after = spark.read.parquet(rdir)
    assert canon(after.filter(F.col("epoch") == 1)) == got1


def test_streaming_ols_parity_and_merge_exactness(spark, tmp_path):
    """OLS twin: (a) with the fixed floors pinned at the group's true
    minima, a single-group single-batch report is bit-identical to
    trend.ols_fit (identical pivot algebra); (b) cross-batch merging is
    exact BY CONSTRUCTION — epoch 1's report equals the twin run on the
    union in one batch; (c) a retried epoch changes nothing."""
    from meshinsights_data_pipeline_spark.operators.trend import ols_fit
    from meshinsights_data_pipeline_spark.sources.layout import (
        snapshot_overwrite,
    )
    from meshinsights_data_pipeline_spark.streaming import (
        streaming_ols_ingest,
    )

    schema = "g string, x double, y double"
    STATE = (
        "g string, n long, sx decimal(38,12), sy decimal(38,12), "
        "sxy decimal(38,6), sxx decimal(38,6), syy decimal(38,6)"
    )
    b1 = spark.createDataFrame(
        [("s1", float(i), 2.0 + 0.5 * i + (i % 3) * 0.1)
         for i in range(2, 12)],
        schema)
    b2 = spark.createDataFrame(
        [("s1", float(i), 2.0 + 0.5 * i - (i % 2) * 0.2)
         for i in range(12, 20)],
        schema)

    def canon(df):
        return sorted(
            (r["g"], r["n"], r["slope"], r["intercept"], r["r2"])
            for r in df.collect())

    def run_twin(batches, root):
        sdir, rdir = f"{root}/state", f"{root}/report"
        snapshot_overwrite(spark.createDataFrame([], STATE), sdir, -1)
        proc = streaming_ols_ingest(
            None, group_col="g", x_col="x", y_col="y",
            x_floor=2.0, y_floor=2.0,  # the true minima of b1 u b2
            state_dir=sdir, report_dir=rdir)
        for i, b in enumerate(batches):
            proc(b, i)
        return proc, rdir

    # (a) single batch == batch operator (floors == b1's true minima:
    # b1 x-min 2.0; y-min = 2.0 + 1.0 + 0.2 ... pin floors at b1's
    # actual minima for the bit-parity leg)
    xm = min(r.x for r in b1.collect())
    ym = min(r.y for r in b1.collect())
    root_a = str(tmp_path / "a")
    sdir, rdir = f"{root_a}/state", f"{root_a}/report"
    snapshot_overwrite(spark.createDataFrame([], STATE), sdir, -1)
    proc_a = streaming_ols_ingest(
        None, group_col="g", x_col="x", y_col="y",
        x_floor=xm, y_floor=ym, state_dir=sdir, report_dir=rdir)
    proc_a(b1, 0)
    got_a = canon(spark.read.parquet(rdir).filter(F.col("epoch") == 0))
    assert got_a == canon(ols_fit(b1, ["g"], "x", "y"))

    # (b) two epochs == one-batch union under the same floors
    proc1, rdir1 = run_twin([b1, b2], str(tmp_path / "b"))
    got1 = canon(
        spark.read.parquet(rdir1).filter(F.col("epoch") == 1))
    _, rdir2 = run_twin([b1.unionByName(b2)], str(tmp_path / "c"))
    got_union = canon(
        spark.read.parquet(rdir2).filter(F.col("epoch") == 0))
    assert got1 == got_union

    # (c) retry idempotency
    proc1(b2, 1)
    after = spark.read.parquet(rdir1)
    assert canon(after.filter(F.col("epoch") == 1)) == got1
    assert after.count() == 2
