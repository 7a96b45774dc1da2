"""Property-based tests for the SURVEY §4 semantic traps.

Each property pits a Spark operator against a plain-Python reference
implementation on randomized inputs — the failure modes these guard
(nondeterministic mode ties, Monday-vs-Sunday weeks, positional tail
semantics, string-edge behavior) are exactly where a naive port diverges
from the pandas reference. Example counts are kept small: every example is
a Spark job.
"""

from __future__ import annotations

from collections import Counter
from datetime import date, timedelta

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.functions.scalars import string_tail_lower
from meshinsights_data_pipeline_spark.operators.mode import grouped_mode
from meshinsights_data_pipeline_spark.operators.weekly import (
    sunday_week_start,
    week_label,
)

SLOW = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-5, 5)), min_size=1, max_size=60
    )
)
@SLOW
def test_grouped_mode_matches_pandas_tiebreak(spark, rows):
    """A3: mode = highest count, ties -> SMALLEST value (pandas idxmax over
    group-sorted pair counts, EPC:188-202)."""
    df = spark.createDataFrame(rows, "g int, v int")
    got = {
        r["g"]: r["mode_v"]
        for r in grouped_mode(df, ["g"], "v", out_col="mode_v").collect()
    }
    for g in {g for g, _ in rows}:
        counts = Counter(v for gg, v in rows if gg == g)
        best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        assert got[g] == best, f"group {g}: {got[g]} != {best} ({counts})"


@given(d=st.dates(min_value=date(1990, 1, 6), max_value=date(2100, 12, 25)))
@SLOW
def test_sunday_week_start_properties(spark, d):
    """W3/W4: result is the Sunday ON OR BEFORE the date; label spans 7 days."""
    row = spark.createDataFrame([(d,)], "d date").select(
        sunday_week_start(F.col("d")).alias("wk"),
        week_label(F.col("d")).alias("label"),
    ).collect()[0]
    wk: date = row["wk"]
    assert wk.isoweekday() == 7  # Sunday
    assert wk <= d and (d - wk).days <= 6
    assert row["label"] == f"{wk.isoformat()} - {(wk + timedelta(days=6)).isoformat()}"


@given(
    s=st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        max_size=30,
    ),
    n=st.integers(-3, 40),
)
@SLOW
def test_string_tail_lower_matches_python(spark, s, n):
    """F1 edges (adx_plugin.py:278-286): n <= 0 -> '', n >= len -> whole
    string lowercased, else last n chars lowercased."""
    expected = "" if n <= 0 else s[-n:].lower() if s else ""
    got = (
        spark.createDataFrame([(s,)], "s string")
        .select(string_tail_lower(F.col("s"), n).alias("t"))
        .collect()[0]["t"]
    )
    assert got == expected, f"{s!r} n={n}: {got!r} != {expected!r}"


@given(
    proto=st.sampled_from(["http", "HTTP", "https", "HTTPS"]),
    www=st.booleans(),
    host=st.from_regex(r"[A-Za-z][A-Za-z0-9]{0,8}\.com", fullmatch=True),
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=st.from_regex(r"(/[A-Za-z0-9]{1,6}){0,3}/?", fullmatch=True),
    params=st.lists(
        st.from_regex(r"(utm_[a-z]{1,5}|gclid|ref|[a-z]{1,4})=[A-Za-z0-9]{0,4}", fullmatch=True),
        max_size=4,
    ),
    frag=st.sampled_from(["", "#x"]),
)
@SLOW
def test_canonical_url_idempotent(spark, proto, www, host, port, path, params, frag):
    # canonicalization must be a fixpoint: canon(canon(u)) == canon(u)
    from meshinsights_data_pipeline_spark.operators.corpus import canonical_url

    url = f"{proto}://{'WWW.' if www else ''}{host}{port}{path}"
    if params:
        url += "?" + "&".join(params)
    url += frag
    df = spark.createDataFrame([(url,)], ["u"])
    once, twice = df.select(
        canonical_url(F.col("u")).alias("a"),
        canonical_url(canonical_url(F.col("u"))).alias("b"),
    ).first()
    assert once == twice, url


@given(
    toks=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=20),
    budget=st.integers(min_value=8, max_value=64),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pack_sequences_invariants(spark, toks, budget):
    """Packing invariants for any chunk-size sequence: offsets stay inside
    the budget, seq ids are nondecreasing in pack order, and each chunk
    starts exactly where the exclusive cumsum says."""
    from meshinsights_data_pipeline_spark.operators.corpus import pack_sequences

    rows = [("s", i, n) for i, n in enumerate(toks)]
    df = spark.createDataFrame(rows, "src string, ord long, n long")
    out = sorted(
        pack_sequences(df, ["src"], ["ord"], "n", budget=budget).collect(),
        key=lambda r: r.ord,
    )
    cum = 0
    prev_seq = 0
    for r in out:
        assert 0 <= r.tok_offset < budget
        assert r.seq_id == cum // budget
        assert r.tok_offset == cum - r.seq_id * budget
        assert r.seq_id >= prev_seq
        prev_seq = r.seq_id
        cum += r.n


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10_000),
                 min_size=1, max_size=60, unique=True),
    n_shards=st.integers(min_value=1, max_value=6),
    seed=st.integers(min_value=0, max_value=3),
)
@SLOW
def test_shuffle_shards_invariants(spark, ids, n_shards, seed):
    """shard/pos form a bijection onto contiguous per-shard ranges, and the
    layout is invariant to the input's physical partitioning (a pure
    function of (seed, id))."""
    from meshinsights_data_pipeline_spark.operators.corpus import shuffle_shards

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = shuffle_shards(df, "doc_id", n_shards=n_shards, seed=seed).collect()
    assert len(out) == len(ids)
    by_shard = {}
    for r in out:
        assert 0 <= r.shard < n_shards
        by_shard.setdefault(r.shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    repart = shuffle_shards(
        df.repartition(5), "doc_id", n_shards=n_shards, seed=seed
    ).collect()
    assert {(r.doc_id, r.shard, r.pos) for r in repart} == {
        (r.doc_id, r.shard, r.pos) for r in out
    }


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=40),
        min_size=1, max_size=12,
    ),
    min_docs=st.integers(min_value=2, max_value=3),
)
@SLOW
def test_boilerplate_frac_bounds(spark, texts, min_docs):
    from meshinsights_data_pipeline_spark.operators.corpus import (
        boilerplate_ngrams,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = boilerplate_ngrams(df, "doc_id", "text", n=2,
                              min_docs=min_docs).collect()
    for r in rows:
        assert 0 <= r.n_boiler <= r.n_grams
        assert 0.0 <= r.boiler_frac <= 1.0


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40), st.integers(-9, 9)),
        min_size=1,
        max_size=80,
    ),
    k=st.integers(1, 5),
    buckets=st.integers(2, 7),
)
@SLOW
def test_two_phase_rank_equals_single_window(spark, rows, k, buckets):
    """The salted two-phase top-k must be BIT-IDENTICAL to the plain
    per-partition row_number window for any salt bucket count — the
    property the de-skewed similarity ranks rely on. Duplicate ids are
    deduped first so the order (score desc, id asc) is total."""
    from pyspark.sql import Window

    from meshinsights_data_pipeline_spark.operators.similarity import (
        _two_phase_rank,
    )

    df = (
        spark.createDataFrame(rows, "q int, nid int, score int")
        .dropDuplicates(["q", "nid"])
    )
    order = [F.col("score").desc(), F.col("nid").asc()]
    got = {
        (r.q, r.nid, r["rank"])
        for r in _two_phase_rank(
            df, "q", order, F.col("nid"), k, salt_buckets=buckets
        ).collect()
    }
    w = Window.partitionBy("q").orderBy(*order)
    want = {
        (r.q, r.nid, r["rank"])
        for r in df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .collect()
    }
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=1, max_size=30),
        min_size=1,
        max_size=8,
    ),
    n=st.integers(2, 4),
)
@SLOW
def test_duplicate_spans_invariants(spark, docs, n):
    """Spans are per-doc disjoint, ordered, at least n tokens wide, and
    every span's grams genuinely occur in >= 2 distinct documents."""
    from meshinsights_data_pipeline_spark.operators.corpus import duplicate_spans

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_spans(df, "doc_id", "text", n=n, min_docs=2).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    # cross-doc shared-gram ground truth in plain Python
    grams_by_doc = {
        i: {
            " ".join(toks[j : j + n])
            for j in range(len(toks) - n + 1)
        } | ({" ".join(toks)} if len(toks) < n else set())
        for i, toks in enumerate(docs)
    }
    shared = {
        g
        for i, gs in grams_by_doc.items()
        for g in gs
        if sum(g in o for o in grams_by_doc.values()) >= 2
    }
    for i, spans in by_doc.items():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert e1 < s2  # disjoint, non-adjacent (adjacent would merge)
        for s, e in spans:
            assert e - s >= n
    # a doc has spans iff it holds at least one cross-doc shared gram
    docs_with_spans = set(by_doc)
    docs_with_shared = {i for i, gs in grams_by_doc.items() if gs & shared}
    assert docs_with_spans == docs_with_shared


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 4),        # user
            st.integers(0, 50),       # minutes offset
            st.integers(0, 2),        # step index -> type
        ),
        min_size=0,
        max_size=40,
    )
)
@SLOW
def test_funnel_counts_monotone_and_complete(spark, events):
    """funnel_counts always emits one row per declared step, and the user
    counts are monotonically non-increasing down the funnel (a user
    reaches step k only through step k-1)."""
    from datetime import datetime, timedelta

    from meshinsights_data_pipeline_spark.operators.funnel import funnel_counts

    steps = ["view", "click", "purchase"]
    rows = [
        (u, datetime(2026, 3, 1) + timedelta(minutes=m), steps[t])
        for u, m, t in events
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    ) if rows else spark.createDataFrame(
        [], "user_id long, ts timestamp, event_type string"
    )
    out = {r.step: r.users for r in
           funnel_counts(df, "user_id", "ts", "event_type", steps).collect()}
    assert sorted(out) == [1, 2, 3]  # every step present, even all-zero
    assert out[1] >= out[2] >= out[3] >= 0


@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 120)),  # (user, seconds)
        min_size=0,
        max_size=30,
    ),
    gap=st.integers(1, 40),
)
@SLOW
def test_debounce_idempotent_and_gap_respecting(spark, events, gap):
    """Debounce is idempotent (consecutive SURVIVORS are always > gap
    apart, so a second pass keeps exactly the same rows) and every
    surviving consecutive pair within a key respects the gap."""
    from datetime import datetime, timedelta

    from meshinsights_data_pipeline_spark.operators.debounce import debounce

    rows = [
        (u, i, datetime(2026, 3, 1) + timedelta(seconds=s))
        for i, (u, s) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp"
    ) if rows else spark.createDataFrame([], "user_id long, event_id long, ts timestamp")
    once = debounce(df, ["user_id"], ["ts", "event_id"], "ts", gap)
    kept = sorted((r.user_id, r.ts, r.event_id) for r in once.collect())
    twice = debounce(once, ["user_id"], ["ts", "event_id"], "ts", gap)
    assert sorted((r.user_id, r.ts, r.event_id) for r in twice.collect()) == kept
    by_user: dict[int, list] = {}
    for u, ts, _ in kept:
        by_user.setdefault(u, []).append(ts)
    for series in by_user.values():
        for a, b in zip(series, series[1:]):
            assert (b - a).total_seconds() > gap


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=30),
        min_size=1,
        max_size=8,
    )
)
@SLOW
def test_lm_quality_bounds(spark, texts):
    """Smoothed bigram probabilities live in (0, 1], so avg_logp <= 0 and
    ppl >= 1 for every scored doc; docs with < 2 tokens are absent."""
    from meshinsights_data_pipeline_spark.operators.corpus import lm_quality_score

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = lm_quality_score(df, "doc_id", "text").collect()
    scoreable = {
        i for i, t in rows if len([w for w in t.split() if w]) >= 2
    }
    assert {r.doc_id for r in out} == scoreable
    for r in out:
        assert r.n_bigrams >= 1
        assert r.avg_logp <= 0
        assert r.ppl >= 1.0


_token = st.text(alphabet="abc", min_size=1, max_size=3)
_line = st.lists(_token, min_size=0, max_size=4).map(" ".join)


@given(
    docs=st.lists(
        st.lists(_line, min_size=1, max_size=5).map("\n".join),
        min_size=1,
        max_size=8,
    ),
    k=st.integers(1, 4),
)
@SLOW
def test_line_dedup_matches_python_reference(spark, docs, k):
    """line_dedup vs a plain-Python reference on random corpora: same
    surviving lines in order, conservation (removed + kept = total), and
    every doc present exactly once."""
    from meshinsights_data_pipeline_spark.operators.corpus import line_dedup

    rows = [(i, t) for i, t in enumerate(docs)]
    out = {
        r.doc_id: r
        for r in line_dedup(
            spark.createDataFrame(rows, ["doc_id", "text"]),
            "doc_id", "text", min_doc_freq=k,
        ).collect()
    }
    df_count = Counter()
    for _, t in rows:
        for line in set(t.split("\n")):
            df_count[line] += 1
    common = {l for l, c in df_count.items() if c >= k}
    assert set(out) == {i for i, _ in rows}
    for i, t in rows:
        lines = t.split("\n")
        kept = [l for l in lines if l not in common]
        assert out[i].clean_text == "\n".join(kept)
        assert out[i].n_lines_kept == len(kept)
        assert out[i].n_lines_removed == len(lines) - len(kept)


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["s0", "s1", "s2"]),
                  st.lists(_token, min_size=1, max_size=5).map(" ".join)),
        min_size=1,
        max_size=12,
    )
)
@SLOW
def test_source_drift_metric_ranges_and_zero_case(spark, rows):
    """TV distance is always within [0, 1]; chi-square >= 0; a corpus
    with ONE source has zero drift by definition (p == q)."""
    from meshinsights_data_pipeline_spark.operators.corpus import source_drift

    df = spark.createDataFrame(
        [(i, s, t) for i, (s, t) in enumerate(rows)],
        ["doc_id", "source", "text"],
    )
    for r in source_drift(df, "source", "text").collect():
        assert 0.0 <= r.tv_distance <= 1.0
        assert r.chi_square >= 0.0
    single = df.withColumn("source", F.lit("only"))
    for r in source_drift(single, "source", "text").collect():
        assert r.tv_distance == 0.0 and r.chi_square == 0.0


@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(0, 3),        # key
                st.integers(0, 2),        # attr value (small domain -> no-ops happen)
                st.integers(0, 9),        # day offset (collisions -> late/equal-ts paths)
            ),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    )
)
@SLOW
def test_scd2_fold_invariants_vs_python_reference(spark, batches):
    """scd2_merge folded over random batches vs a dict-based Python
    reference: per key, at most one OPEN row; closed intervals CHAIN
    (each valid_to equals the next valid_from); the open row's attr
    equals the reference's final state. Random ts collisions exercise
    the late/equal-timestamp drop and no-op redelivery paths."""
    from datetime import datetime, timedelta

    from meshinsights_data_pipeline_spark.operators.snapshot import scd2_merge

    base = datetime(2024, 1, 1)

    def ts(off):
        return base + timedelta(days=off)

    hist = spark.createDataFrame(
        [], "k long, a long, valid_from timestamp, valid_to timestamp"
    )
    # Python reference: per key, list of [attr, from, to]
    ref: dict[int, list[list]] = {}
    for batch in batches:
        rows = [(k, a, ts(off)) for k, a, off in batch]
        bdf = spark.createDataFrame(rows, "k long, a long, ts timestamp")
        hist = scd2_merge(hist, bdf, keys=["k"], attrs=["a"], ts_col="ts")
        # reference applies the operator's documented batch resolution:
        # one row per key, max ts, ties -> greatest (ts, attr)
        per_key: dict[int, tuple] = {}
        for k, a, off in batch:
            cand = (ts(off), a)
            if k not in per_key or cand > per_key[k]:
                per_key[k] = cand
        for k, (t, a) in per_key.items():
            vers = ref.setdefault(k, [])
            if not vers:
                vers.append([a, t, None])
            else:
                cur = vers[-1]
                if t <= cur[1] or a == cur[0]:
                    continue  # late/equal-ts drop, or no-op redelivery
                cur[2] = t
                vers.append([a, t, None])
    got = hist.collect()
    by_key: dict[int, list] = {}
    for r in got:
        by_key.setdefault(r.k, []).append((r.a, r.valid_from, r.valid_to))
    assert set(by_key) == set(ref)
    for k, vers in by_key.items():
        vers.sort(key=lambda v: v[1])
        opens = [v for v in vers if v[2] is None]
        assert len(opens) == 1  # exactly one open row per live key
        for cur, nxt in zip(vers, vers[1:]):
            assert cur[2] == nxt[1]  # intervals chain with no gap/overlap
        expect = [(a, f, t) for a, f, t in ((v[0], v[1], v[2]) for v in ref[k])]
        assert vers == expect


@given(
    old_rows=st.lists(
        st.tuples(st.integers(0, 9), st.one_of(st.none(), st.integers(0, 3))),
        max_size=10,
        unique_by=lambda r: r[0],
    ),
    new_rows=st.lists(
        st.tuples(st.integers(0, 9), st.one_of(st.none(), st.integers(0, 3))),
        max_size=10,
        unique_by=lambda r: r[0],
    ),
)
@SLOW
def test_cdc_delta_round_trip_reconstructs_new(spark, old_rows, new_rows):
    """Applying cdc_delta's feed to the old snapshot must reconstruct the
    new one exactly: drop deletes, replace updates, add inserts. Random
    keyed snapshots with NULL values exercise the null-safe compare."""
    from meshinsights_data_pipeline_spark.operators.snapshot import cdc_delta

    schema = "k long, v long"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    delta = cdc_delta(old, new, keys=["k"]).collect()

    state = dict(old_rows)
    for r in delta:
        if r.change_type == "delete":
            del state[r.k]
        elif r.change_type == "insert":
            state[r.k] = r.new_v
        else:
            assert state[r.k] == r.old_v  # feed carries the true old value
            state[r.k] = r.new_v
    assert state == dict(new_rows)


# ---------------------------------------------------------------------------
# Partition-layout invariance of float-bearing aggregates (VERDICT r8 #2).
# A DOUBLE sum's partial-aggregate merge order varies with the input layout
# (and, in production, run to run); the repo's DECIMAL-exact-sum discipline
# makes every declared float aggregate a pure function of the row SET. These
# tests pin that: the same aggregate over 3 adversarial repartitionings must
# produce byte-identical canonicalized output (the x69 r8 driver flake class).
# ---------------------------------------------------------------------------

def _canon(df):
    from tests.oracle_harness import canon_rows

    return canon_rows(df.columns, [tuple(r) for r in df.collect()])


def _layouts(df):
    cols = df.columns
    return [
        df,
        df.repartition(17, cols[0]),
        df.repartition(3).sortWithinPartitions(cols[-1]),
    ]


def test_gap_session_value_sum_layout_invariant(spark, sf_smoke):
    """x69's aggregate (DECIMAL value_sum per gap-session) is identical
    under shuffled physical layouts — the exact query the r8 driver
    caught flaking as a raw double sum."""
    from meshinsights_data_pipeline_spark.operators.sessionize import (
        sessionize_by_gap,
    )
    from meshinsights_data_pipeline_spark.session import read_table

    ev = read_table(spark, sf_smoke, "events")
    outs = []
    for layout in _layouts(ev):
        sess = sessionize_by_gap(
            layout, "ts", 43200, ["user_id"], tiebreak=[F.col("event_id")]
        )
        agg = sess.groupBy("user_id", "session").agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("value_sum"),
        )
        outs.append(_canon(agg))
    assert outs[0] == outs[1] == outs[2]


def test_source_drift_layout_invariant(spark, sf_smoke):
    """x63's TV/chi-square (DECIMAL folds of per-token double terms) are
    identical under shuffled physical layouts."""
    from meshinsights_data_pipeline_spark.operators.corpus import source_drift
    from meshinsights_data_pipeline_spark.session import read_table

    docs = read_table(spark, sf_smoke, "documents")
    outs = [_canon(source_drift(d, "source", "text")) for d in _layouts(docs)]
    assert outs[0] == outs[1] == outs[2]


def test_pagerank_layout_invariant(spark, sf_smoke):
    """x67's per-round DECIMAL contribution folds keep multi-round ranks
    bit-identical under shuffled edge layouts (errors would compound
    across rounds before the final rounding)."""
    from meshinsights_data_pipeline_spark.operators.graph import pagerank
    from meshinsights_data_pipeline_spark.session import read_table

    li = read_table(spark, sf_smoke, "lineitem").select("l_orderkey", "l_suppkey")
    orders = read_table(spark, sf_smoke, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.col("l_suppkey").alias("src"),
        (F.col("o_custkey") + 1_000_000).alias("dst"),
    )
    outs = [
        _canon(pagerank(e, iterations=3, damping=0.85, round_to=None))
        for e in _layouts(edges)
    ]
    assert outs[0] == outs[1] == outs[2]


def test_double_to_decimal_cast_ties_agree_with_duckdb(spark):
    """The DECIMAL-exact parity discipline rests on Spark's
    double->decimal cast and DuckDB's agreeing. Pin exactly what holds
    (empirically, this platform, Spark 4.1 / DuckDB bundled):

    - SCALE 6 (the value_sum / avg / micros folds): engines agree on
      every probed input INCLUDING genuine rounding ties (dyadic doubles
      whose exact expansion terminates in 5 at digit 7, e.g. 1/128) —
      both round half away from zero. Asserted exactly.
    - SCALE 18 (the drift/pagerank per-term folds): engines DIVERGE on
      some inputs — on ties (odd m/2^19, exact expansion ends in 5 at
      digit 19) Spark rounds HALF_UP while DuckDB lands half-to-even,
      and on long-mantissa doubles Spark casts via the shortest decimal
      representation while DuckDB expands the exact binary value.
      Divergence is bounded (~1e-18 for ties, ~1ulp of the double
      otherwise) and absorbed by the final 6dp rounding every scale-18
      path applies — asserted as: bounded, and at least one tie + one
      long-mantissa case diverges (so if an engine change erases the
      divergence, this test flags the doc for update).
    """
    import duckdb
    from decimal import Decimal

    ties6 = [m / 128 for m in (1, 3, 5, 7, 255, 1001)] + [
        m / 256 for m in (1, 3, 9, 333)
    ]
    controls6 = [0.1, 2.675, 1e-7, 123456.654321, -0.0078125, -2.5e-6]
    ties18 = [m / (1 << 19) for m in (1, 3, 5, 999)] + [-1 / (1 << 19)]
    long18 = [123456.654321, 0.1, 2.675]
    exact18 = [0.5, -0.25, 3.0]  # short dyadics, no tie, no long mantissa

    agree = [(v, "decimal(18,6)") for v in ties6 + controls6] + [
        (v, "decimal(38,18)") for v in exact18
    ]
    bounded = [(v, "decimal(38,18)") for v in ties18 + long18]

    cases = agree + bounded
    sdf = spark.createDataFrame(
        [(i, v, t) for i, (v, t) in enumerate(cases)], ["i", "v", "t"]
    )
    spark_out = {}
    for typ in ("decimal(18,6)", "decimal(38,18)"):
        rows = (
            sdf.filter(F.col("t") == typ)
            .select("i", F.col("v").cast(typ).cast("string").alias("s"))
            .collect()
        )
        spark_out.update({r.i: r.s for r in rows})

    con = duckdb.connect()

    def duck_cast(v, typ):
        dtyp = typ.replace("decimal", "DECIMAL")
        return con.execute(
            f"SELECT CAST(CAST(? AS DOUBLE) AS {dtyp})", [v]
        ).fetchone()[0]

    for i, (v, typ) in enumerate(agree):
        duck = duck_cast(v, typ)
        assert Decimal(spark_out[i]) == duck, (
            f"cast divergence at {v!r} ({typ}): spark={spark_out[i]} "
            f"duckdb={duck}"
        )
    n_div = 0
    for i, (v, typ) in enumerate(bounded, start=len(agree)):
        duck = duck_cast(v, typ)
        delta = abs(Decimal(spark_out[i]) - duck)
        if delta:
            n_div += 1
        # bounded well inside what ROUND(.,6) absorbs for O(1) sums
        assert delta < Decimal("1e-9") * max(1, abs(duck)), (v, typ, delta)
    assert n_div > 0, (
        "engines now agree on scale-18 ties/long-mantissa doubles — "
        "update the DECIMAL-discipline docs (operators/corpus.py)"
    )
    con.close()


def test_dsir_logw_layout_invariant(spark, sf_smoke):
    """x70's per-doc DECIMAL fold of n_b * lambda_b terms is identical
    under shuffled physical layouts (the q31/x51 discipline applied to
    DSIR importance weights)."""
    from meshinsights_data_pipeline_spark.operators.corpus import dsir_weights
    from meshinsights_data_pipeline_spark.session import read_table

    docs = read_table(spark, sf_smoke, "documents")
    outs = [
        _canon(
            dsir_weights(d, d.filter(F.col("lang") == "en"), "doc_id", "text")
        )
        for d in _layouts(docs)
    ]
    assert outs[0] == outs[1] == outs[2]


def test_bm25_layout_invariant(spark, sf_smoke):
    """x71's per-doc DECIMAL fold over query-term scores and the
    distributed offset rank are identical under shuffled physical
    layouts (the q31/x51 discipline applied to BM25 retrieval)."""
    from meshinsights_data_pipeline_spark.operators.text import bm25_topk
    from meshinsights_data_pipeline_spark.session import read_table

    docs = read_table(spark, sf_smoke, "documents")
    outs = [
        _canon(bm25_topk(d, "doc_id", "text", ["dup", "vector", "scan"]))
        for d in _layouts(docs)
    ]
    assert outs[0] == outs[1] == outs[2]


def test_stratified_sample_layout_invariant(spark, sf_smoke):
    """x73's Hamilton quotas and hash-order picks are pure BIGINT/id
    functions — identical selected sets under shuffled physical
    layouts."""
    from meshinsights_data_pipeline_spark.operators.corpus import (
        stratified_sample,
    )
    from meshinsights_data_pipeline_spark.session import read_table

    docs = read_table(spark, sf_smoke, "documents")
    outs = [
        _canon(stratified_sample(d, "lang", "doc_id", 137))
        for d in _layouts(docs)
    ]
    assert outs[0] == outs[1] == outs[2]


def test_lexical_diversity_layout_invariant(spark, sf_smoke):
    """x74's DECIMAL-folded regression sums are identical under shuffled
    physical layouts."""
    from meshinsights_data_pipeline_spark.operators.corpus import (
        lexical_diversity,
    )
    from meshinsights_data_pipeline_spark.session import read_table

    docs = read_table(spark, sf_smoke, "documents")
    outs = [_canon(lexical_diversity(d, "source", "text")) for d in _layouts(docs)]
    assert outs[0] == outs[1] == outs[2]


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=40), min_size=1,
                   max_size=6),
    frac=st.floats(min_value=0.05, max_value=1.0),
)
@SLOW
def test_stratified_sample_hamilton_properties(spark, sizes, frac):
    """For ANY strata sizes and total: quotas sum to exactly the total,
    every stratum's quota is within +/-1 of its exact proportional
    share (the Hamilton guarantee), and picks are dense 1..quota."""
    from meshinsights_data_pipeline_spark.operators.corpus import (
        stratified_sample,
    )

    n = sum(sizes)
    total = max(1, min(n, int(round(frac * n))))
    rows, nxt = [], 0
    for s, sz in enumerate(sizes):
        for _ in range(sz):
            rows.append((nxt, f"g{s}"))
            nxt += 1
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_sample(df, "lang", "doc_id", total).collect()
    assert len(out) == total
    got = {}
    for r in out:
        got.setdefault(r.lang, []).append(r.pick)
    for s, sz in enumerate(sizes):
        q = len(got.get(f"g{s}", []))
        exact = total * sz / n
        assert abs(q - exact) < 1 + 1e-9, (sizes, total, s, q, exact)
        if q:
            assert sorted(got[f"g{s}"]) == list(range(1, q + 1))


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0,
                 max_size=8),
        min_size=1, max_size=8,
    ),
    terms=st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=1,
                   max_size=3, unique=True),
)
@SLOW
def test_bm25_matches_pure_python_reference(spark, docs, terms):
    """bm25_topk equals an independently coded BM25 (same ratio-idf
    variant) on arbitrary tiny corpora — scores to 6dp, ranking, and
    the n_terms count."""
    from meshinsights_data_pipeline_spark.operators.text import bm25_topk

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {
        r.id: (r.n_terms, r.score)
        for r in bm25_topk(df, "id", "t", list(terms), top_k=100).collect()
    }

    n = len(docs)
    dls = [len(toks) for toks in docs]
    avgdl = sum(dls) / n
    dfreq = {t: sum(1 for d in docs if t in d) for t in terms}
    want = {}
    for i, d in enumerate(docs):
        s, matched = 0.0, 0
        for t in sorted(terms):
            tc = d.count(t)
            if not tc:
                continue
            matched += 1
            idf = (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5)
            s += idf * ((tc * 2.2) / (tc + 1.2 * (0.25 + 0.75 * (dls[i] / avgdl))))
        if matched:
            want[i] = (matched, round(s, 6))
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0], (i, got[i], want[i])
        assert got[i][1] == pytest.approx(want[i][1], abs=1e-9)


@given(
    hosts=st.lists(
        st.lists(st.sampled_from(["a", "bb", "ccc", "www"]), min_size=1,
                 max_size=4),
        min_size=1, max_size=8,
    ),
    blocked=st.lists(
        st.lists(st.sampled_from(["a", "bb", "ccc"]), min_size=1,
                 max_size=3),
        min_size=1, max_size=4,
    ),
)
@SLOW
def test_url_blocklist_matches_pure_python_reference(spark, hosts, blocked):
    """url_host_blocklist equals an independently coded label-aligned
    suffix matcher on arbitrary label combinations (including entries
    deeper than the host, single-label entries, and multi-match min)."""
    from meshinsights_data_pipeline_spark.operators.corpus import (
        url_host_blocklist,
    )

    host_strs = [".".join(h) for h in hosts]
    block_strs = sorted({".".join(b) for b in blocked})
    df = spark.createDataFrame(
        [(i, f"https://{h}/p") for i, h in enumerate(host_strs)],
        "id long, url string",
    )
    got = {
        r.id: r.blocked_by
        for r in url_host_blocklist(df, "id", "url", block_strs).collect()
    }
    want = {}
    for i, h in enumerate(host_strs):
        labels = h.split(".")
        suffixes = {".".join(labels[j:]) for j in range(len(labels))}
        matches = sorted(b for b in block_strs if b in suffixes)
        if matches:
            want[i] = matches[0]
    assert got == want


@given(
    ms=st.lists(st.integers(-(2**20), 2**20), min_size=1, max_size=60),
    k=st.integers(1, 22),
    offset=st.sampled_from([0, 1, -3, 1000, 12345]),
)
@SLOW
def test_round6_tie_parity_spark_vs_duckdb(spark, ms, k, offset):
    """Pin the DECIMAL parity discipline's load-bearing claim: Spark
    ``F.round(double, 6)`` and DuckDB ``ROUND(double, 6)`` agree on every
    binary fraction m/2^k (exactly representable, so both engines see the
    SAME double), including exact 6-decimal-digit rounding ties like
    m/128. Measured r11: 0 divergences over the tie lattice. NOTE the
    companion canary below — the double->DECIMAL(18,6) CAST path does
    NOT share this guarantee, so oracles must round, not cast, any double
    that can land on a tie."""
    import duckdb

    vals = sorted({offset + m / 2**k for m in ms})
    df = spark.createDataFrame([(v,) for v in vals], "v double").select(
        "v", F.round(F.col("v"), 6).alias("r")
    )
    got = {r["v"]: r["r"] for r in df.collect()}
    con = duckdb.connect()
    for v in vals:
        want = con.execute(
            f"SELECT ROUND(CAST({v!r} AS DOUBLE), 6)"
        ).fetchone()[0]
        assert got[v] == want, (v, got[v], want)
    con.close()


def test_decimal_cast_tie_divergence_canary(spark):
    """The CAST-to-DECIMAL path is NOT tie-portable, and this canary keeps
    that fact loud: Spark casts double->DECIMAL(18,6) with HALF_UP
    (1000.0078125 -> 1000.007813) while DuckDB resolves the same exact
    tie to 1000.007812. If either engine changes and this test fails,
    re-audit every oracle that casts doubles to DECIMAL — the discipline
    'round to <=6dp via ROUND, or sum integers' (see
    test_round6_tie_parity_spark_vs_duckdb) would no longer be the
    minimal safe contract."""
    import duckdb

    tie = 1000.0078125  # 1000 + 1/128: exact in binary, 6dp tie in decimal
    s = (
        spark.createDataFrame([(tie,)], "v double")
        .select(F.col("v").cast("decimal(18,6)").cast("string").alias("s"))
        .first()["s"]
    )
    d = duckdb.connect().execute(
        f"SELECT CAST(CAST({tie!r} AS DOUBLE) AS DECIMAL(18,6))::VARCHAR"
    ).fetchone()[0]
    assert s == "1000.007813"  # Spark: HALF_UP
    assert d == "1000.007812"  # DuckDB: resolves this tie the other way


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1, max_size=25,
    )
)
@SLOW
def test_triangle_counts_match_bruteforce(spark, edges):
    """triangle_counts equals brute-force triangle enumeration on
    arbitrary small graphs (self-loops and duplicate/reversed edges
    included in the input noise)."""
    from itertools import combinations

    from meshinsights_data_pipeline_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.triangles for r in triangle_counts(df).collect()}

    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for u, v, w in combinations(sorted(adj), 3):
        if v in adj[u] and w in adj[u] and w in adj[v]:
            for n in (u, v, w):
                want[n] = want.get(n, 0) + 1
    assert got == want


@given(
    counts=st.lists(st.integers(1, 40), min_size=1, max_size=6),
    total=st.integers(1, 60),
)
@SLOW
def test_temperature_quota_invariants(spark, counts, total):
    """Temperature quotas sum to exactly min(total, what saturation
    allows); every quota is within the stratum size; alpha=1 equals
    stratified_sample row-for-row."""
    from meshinsights_data_pipeline_spark.operators.corpus import (
        stratified_sample,
        temperature_mixture_sample,
    )

    n = sum(counts)
    total = min(total, n)  # operator precondition
    rows = [(s * 1000 + i, f"s{s}")
            for s, c in enumerate(counts) for i in range(c)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_mixture_sample(df, "lang", "doc_id", total, alpha=0.5)
    sizes = {}
    for r in out.collect():
        sizes[r.lang] = sizes.get(r.lang, 0) + 1
    for s, c in enumerate(counts):
        assert sizes.get(f"s{s}", 0) <= c
    # without saturation the quotas must sum exactly; with saturation
    # they may undershoot but never overshoot
    assert sum(sizes.values()) <= total
    if all(sizes.get(f"s{s}", 0) < c for s, c in enumerate(counts)):
        assert sum(sizes.values()) == total
    t1 = sorted((r.lang, r.doc_id, r.pick) for r in
                temperature_mixture_sample(df, "lang", "doc_id", total,
                                           alpha=1.0).collect())
    s1 = sorted((r.lang, r.doc_id, r.pick) for r in
                stratified_sample(df, "lang", "doc_id", total).collect())
    assert t1 == s1


@given(
    obs=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(0, 1000)),
        min_size=2, max_size=20, unique_by=lambda t: t[0],
    )
)
@SLOW
def test_time_weighted_avg_matches_python(spark, obs):
    """TWA equals the pure-python LOCF integral on arbitrary integer
    series (unique timestamps; micros arithmetic exact)."""
    from datetime import datetime, timedelta

    from meshinsights_data_pipeline_spark.operators.rollup import (
        time_weighted_avg,
    )

    base = datetime(2024, 1, 1)
    rows = [("k", base + timedelta(seconds=s), float(v)) for s, v in obs]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    r = time_weighted_avg(df, "ts", ["k"], "value").first()

    pts = sorted(obs)
    span_us = (pts[-1][0] - pts[0][0]) * 1_000_000
    ws = sum(
        v * 1_000_000 * (pts[i + 1][0] - s) * 1_000_000
        for i, (s, v) in enumerate(pts[:-1])
    )
    assert r.span_seconds == span_us // 1_000_000
    assert r.twa_micros == ws // span_us


@given(
    obs=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(-1000, 1000)),
        min_size=1, max_size=25, unique_by=lambda t: t[0],
    )
)
@SLOW
def test_rolling_stats_matches_python(spark, obs):
    """Rolling n=3 sum/mean equals the pure-python sliding window on
    arbitrary integer series (unique timestamps; DECIMAL sums exact,
    one double division)."""
    from datetime import datetime, timedelta

    from meshinsights_data_pipeline_spark.operators.rollup import (
        rolling_stats,
    )

    base = datetime(2024, 1, 1)
    rows = [("k", base + timedelta(seconds=s), i, float(v))
            for i, (s, v) in enumerate(obs)]
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, event_id long, value double")
    got = {r.event_id: (r.roll_n, r.roll_sum, r.roll_avg)
           for r in rolling_stats(df, "ts", ["k"], "value", "event_id",
                                  n=3).collect()}
    order = sorted(range(len(obs)), key=lambda i: obs[i][0])
    for pos, i in enumerate(order):
        frame = [obs[j][1] for j in order[max(0, pos - 2): pos + 1]]
        n, s = len(frame), sum(frame)
        assert got[i] == (n, float(s), round(s / n, 6))


@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab cd ef gh ij kl mn".split()),
                 min_size=3, max_size=12),
        min_size=2, max_size=6,
    )
)
@SLOW
def test_overlap_dominates_jaccard(spark, docs):
    """For every pair, overlap coefficient >= Jaccard (min(|A|,|B|) <=
    |A∪B|), and overlap = 1 whenever one shingle set contains the other
    — the structural reason x90 exists next to x04."""
    from meshinsights_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        overlap_coefficient_pairs,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ov = {(r.id_a, r.id_b): r.overlap
          for r in overlap_coefficient_pairs(df, "doc_id", "text",
                                             threshold=0.0).collect()}
    ja = {(r.id_a, r.id_b): r.jaccard
          for r in ngram_jaccard_pairs(df, "doc_id", "text",
                                       threshold=0.0).collect()}
    assert set(ov) == set(ja)  # same candidate pairs at threshold 0
    for pair, o in ov.items():
        assert o >= ja[pair] - 1e-9


@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab cd ef gh ij".split()),
                 min_size=3, max_size=10),
        min_size=2, max_size=6,
    ),
    cap=st.integers(1, 4),
)
@SLOW
def test_overlap_doc_freq_cap_only_removes(spark, docs, cap):
    """max_doc_freq soundness (r12 verdict #2): denominators stay
    uncapped, so every capped score <= its uncapped score (the cap can
    only REMOVE pairs, never add or inflate); a pair vanishes from the
    threshold-0 candidate set iff EVERY shared shingle has doc
    frequency above the cap. Same algebra for the Jaccard sibling
    (undercounted intersection OVERcounts the union)."""
    from collections import Counter

    from meshinsights_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        overlap_coefficient_pairs,
    )

    def py_shingles(text, n=3):
        # the vocab is pre-normalized tokens, so normalization is identity
        toks = text.split()
        if len(toks) < n:
            return {text}
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {(r.id_a, r.id_b): r.overlap
            for r in overlap_coefficient_pairs(
                df, "doc_id", "text", threshold=0.0).collect()}
    capped = {(r.id_a, r.id_b): r.overlap
              for r in overlap_coefficient_pairs(
                  df, "doc_id", "text", threshold=0.0,
                  max_doc_freq=cap).collect()}
    assert set(capped) <= set(full)
    for pair, o in capped.items():
        assert o <= full[pair] + 1e-9
    # python-side shingle sets decide which pairs MUST survive/vanish
    sets = {i: py_shingles(t) for i, t in rows}
    dfreq = Counter(s for ss in sets.values() for s in ss)
    for pair in full:
        a, b = pair
        shared_low = {s for s in sets[a] & sets[b] if dfreq[s] <= cap}
        if shared_low:
            assert pair in capped
            assert capped[pair] == round(
                len(shared_low) / min(len(sets[a]), len(sets[b])), 6)
        else:
            assert pair not in capped
    # Jaccard sibling: same candidate-set rule; union uses the UNCAPPED
    # sizes with the capped intersection, so scores only go down
    jc = {(r.id_a, r.id_b): r.jaccard
          for r in ngram_jaccard_pairs(
              df, "doc_id", "text", threshold=0.0,
              max_doc_freq=cap).collect()}
    assert set(jc) == set(capped)
    for (a, b), j in jc.items():
        inter = len({s for s in sets[a] & sets[b] if dfreq[s] <= cap})
        assert j == round(
            inter / (len(sets[a]) + len(sets[b]) - inter), 6)


@given(
    vals=st.lists(st.integers(-100, 100), min_size=2, max_size=30),
)
@SLOW
def test_mad_outliers_matches_python(spark, vals):
    """med/MAD equal python statistics.median on arbitrary integer
    groups; flags follow the rounded-score > threshold rule; MAD=0
    groups are absent."""
    import statistics

    from meshinsights_data_pipeline_spark.operators.stats import (
        mad_outliers,
    )

    df = spark.createDataFrame([("g", float(v)) for v in vals],
                               "k string, value double")
    out = mad_outliers(df, ["k"], "value", threshold=2.0).collect()
    med = statistics.median(vals)
    mad = round(statistics.median([abs(v - med) for v in vals]), 6)
    if mad == 0:
        assert out == []
    else:
        assert len(out) == len(vals)
        for r in out:
            assert r.med_v == round(med, 6) and r.mad_v == mad
            score = round(abs(r.value - med) / mad, 6)
            assert r.score == score and r.is_outlier == (score > 2.0)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("aa bb cc dd".split()),
                 min_size=2, max_size=8),
        min_size=1, max_size=5,
    )
)
@SLOW
def test_pmi_matches_python(spark, docs):
    """The full PMI table (min_count=1, top_k=inf) equals a pure-python
    reference over the same bigram counts, including rank order."""
    import math
    from collections import Counter

    from meshinsights_data_pipeline_spark.operators.text import (
        pmi_collocations,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r.a, r.b, r.n_ab, r.pmi, r.rk)
           for r in pmi_collocations(df, "doc_id", "text", min_count=1,
                                     top_k=10_000).collect()]

    bc = Counter()
    for ws in docs:
        for x, y in zip(ws, ws[1:]):
            bc[(x, y)] += 1
    n_tot = sum(bc.values())
    la = Counter(); rb = Counter()
    for (x, y), n in bc.items():
        la[x] += n; rb[y] += n
    ref = sorted(
        ((x, y, n, round(math.log((n * n_tot) / (la[x] * rb[y])), 6))
         for (x, y), n in bc.items()),
        key=lambda t: (-t[3], t[0], t[1]),
    )
    ref = [(x, y, n, p, i + 1) for i, (x, y, n, p) in enumerate(ref)]
    assert sorted(got) == sorted(ref)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 1),                      # block
            st.sampled_from(["acme", "acmee", "zen", "zenith", "nadir"]),
            st.sampled_from(["york", "yark", "paris"]) | st.none(),
            st.integers(0, 2000) | st.none(),       # bal
            st.integers(0, 40) | st.none(),         # age
        ),
        min_size=2, max_size=25,
    ),
    w=st.tuples(
        st.floats(0.0, 1.0), st.floats(0.0, 1.0),
        st.floats(0.0, 1.0), st.floats(0.0, 1.0),
    ),
    threshold=st.floats(0.1, 1.2),
)
@SLOW
def test_linkage_fields_matches_bruteforce(spark, rows, w, threshold):
    """N-field blocked linkage equals the plain-Python weighted sum on
    randomized rows/weights/threshold — in particular the per-numeric-
    field pre-filter (bound from the max attainable score of the
    REMAINING fields) must be invisible: it may only prune pairs that
    could never pass, including weight-0 fields, thresholds above the
    total weight, and NULL-valued compare fields (which score 0)."""
    from meshinsights_data_pipeline_spark.operators.linkage import (
        LinkageField,
        blocked_record_linkage_fields,
    )

    data = [(i, b, nm, ct,
             None if bal is None else float(bal),
             None if age is None else float(age))
            for i, (b, nm, ct, bal, age) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "id long, blk int, name string, city string,"
              " bal double, age double")
    fields = [
        LinkageField("name", "string", w[0]),
        LinkageField("city", "string", w[1]),
        LinkageField("bal", "numeric", w[2], scale=1000.0),
        LinkageField("age", "numeric", w[3], scale=20.0),
    ]
    got = sorted(
        (r.id_a, r.id_b, r.score)
        for r in blocked_record_linkage_fields(
            df, "id", ["blk"], fields, threshold=threshold).collect())

    def lev(s, t):
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (cs != ct)))
            prev = cur
        return prev[-1]

    def s_sim(a, b):
        if a is None or b is None:
            return 0.0
        return 1 - lev(a, b) / max(len(a), len(b))

    def n_sim(a, b, scale):
        if a is None or b is None:
            return 0.0
        return max(0.0, 1 - abs(a - b) / scale)

    # mirror Spark's F.round exactly: HALF_UP on the double's SHORTEST
    # decimal repr (BigDecimal.valueOf semantics). Plain python round()
    # is half-EVEN on the exact binary value and diverges when a score
    # lands on a decimal-repr midpoint — hypothesis found one via the
    # dyadic weight 0.03125 (score 0.5296875 -> Spark 0.529688, python
    # round 0.529687). The HALF_UP-on-repr form is the suite-wide
    # reference convention (the welch/calibration tests).
    from decimal import Decimal, ROUND_HALF_UP

    def r6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    expect = []
    for i in range(len(data)):
        for j in range(i + 1, len(data)):
            ri, rj = data[i], data[j]
            if ri[1] != rj[1]:
                continue
            score = r6(w[0] * s_sim(ri[2], rj[2])
                       + w[1] * s_sim(ri[3], rj[3])
                       + w[2] * n_sim(ri[4], rj[4], 1000.0)
                       + w[3] * n_sim(ri[5], rj[5], 20.0))
            if score >= threshold:
                expect.append((ri[0], rj[0], score))
    assert got == sorted(expect)


@given(
    obs=st.lists(
        st.tuples(st.integers(0, 1),                 # key
                  st.integers(0, 50),                # ts offset (ties allowed)
                  st.floats(-20, 20, allow_nan=False,
                            allow_infinity=False)),
        min_size=1, max_size=40,
    ),
    target=st.floats(-5, 5, allow_nan=False, allow_infinity=False),
    slack=st.floats(0, 2, allow_nan=False, allow_infinity=False),
)
@SLOW
def test_cusum_matches_recurrence(spark, obs, target, slack):
    """The closed form (cumsum minus running-min of prefix cumsums)
    equals the textbook recurrence S_i = max(0, S_{i-1} + d_i) computed
    in python over the same (ts, id) total order, for both sides."""
    from datetime import datetime, timedelta

    from meshinsights_data_pipeline_spark.operators.changepoint import (
        cusum_changepoints,
    )

    base = datetime(2024, 1, 1)
    rows = [(k, base + timedelta(minutes=t), i, float(v))
            for i, (k, t, v) in enumerate(obs)]
    df = spark.createDataFrame(
        rows, "k int, ts timestamp, event_id long, value double")
    got = {r.event_id: (r.s_plus, r.s_minus, r.alarm_up, r.alarm_down)
           for r in cusum_changepoints(
               df, "ts", ["k"], "value", "event_id",
               target=target, slack=slack, threshold=3.0).collect()}
    assert len(got) == len(rows)
    # quantize exactly as the operator does: the COMBINED scalars
    # target+slack and target-slack each become ONE DECIMAL(18,6)
    # literal (HALF_UP, like Spark's decimal cast) — quantizing target
    # and slack separately diverges by 1e-6 when both scalars round the
    # same direction (hypothesis found target=1.17578125,
    # slack=0.51171875: q(t)-q(s) = 0.664062 but q(t-s) = 0.664063).
    from decimal import ROUND_HALF_UP, Decimal

    def q(x):
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    for k in {r[0] for r in rows}:
        series = sorted((r for r in rows if r[0] == k),
                        key=lambda r: (r[1], r[2]))
        sp = sm = 0.0
        for _, _, eid, v in series:
            sp = max(0.0, sp + (q(v) - q(target + slack)))
            sm = max(0.0, sm + (q(target - slack) - q(v)))
            g = got[eid]
            assert abs(g[0] - sp) < 1e-6 and abs(g[1] - sm) < 1e-6
            assert g[2] == (round(sp, 6) > 3.0)
            assert g[3] == (round(sm, 6) > 3.0)


@given(
    cells=st.lists(
        st.tuples(st.integers(0, 1),            # experiment
                  st.integers(0, 2),            # arm id (0 = control)
                  st.integers(1, 30),           # n
                  st.integers(0, 30)),          # x (capped to n below)
        min_size=1, max_size=8,
    ),
)
@SLOW
def test_ab_test_matches_python_bitwise(spark, cells):
    """The z-statistic is bit-identical to the same fixed-order IEEE
    formula in python (every step — rate divisions, pooled rate, se
    multiply/sqrt, final divide — is correctly rounded, so identical
    operand order means identical doubles), and se = 0 cells yield
    NULL z / false significance."""
    import math
    from collections import defaultdict

    from meshinsights_data_pipeline_spark.operators.abtest import (
        ab_test_zscores,
    )

    # collapse duplicate (exp, arm) tuples the way the aggregate would
    agg = defaultdict(lambda: [0, 0])
    for e, a, n, x in cells:
        agg[(f"e{e}", f"a{a}")][0] += n
        agg[(f"e{e}", f"a{a}")][1] += min(x, n)
    rows = []
    for (e, a), (n, x) in agg.items():
        rows += [(e, a, True)] * x + [(e, a, False)] * (n - x)
    df = spark.createDataFrame(rows, "exp string, arm string, conv boolean")
    got = {(r.exp, r.arm): (r.z, r.significant, r.has_control)
           for r in ab_test_zscores(
               df, "exp", "arm", "conv", control_label="a0").collect()}

    expect = {}
    for (e, a), (n, x) in agg.items():
        if a == "a0":
            continue
        if (e, "a0") not in agg:
            # missing control SURFACES (left join): NULL z, flagged
            expect[(e, a)] = (None, False, False)
            continue
        nc, xc = agg[(e, "a0")]
        pc, pa = xc / nc, x / n
        pool = (xc + x) / (nc + n)
        se = math.sqrt(pool * (1.0 - pool) * (1.0 / nc + 1.0 / n))
        if se > 0:
            z = round((pa - pc) / se, 6)
            expect[(e, a)] = (z, abs(z) > 1.959964, True)
        else:
            expect[(e, a)] = (None, False, True)
    assert got == expect


@given(
    cells=st.lists(
        st.tuples(st.integers(0, 1),                 # experiment
                  st.integers(0, 2),                 # arm id (0 = control)
                  st.lists(st.integers(-20, 20),     # metric * 4
                           min_size=1, max_size=8)),
        min_size=1, max_size=6,
    ),
)
@SLOW
def test_welch_ttest_matches_python_bitwise(spark, cells):
    """Welch's t/df are bit-identical to the same fixed-order IEEE
    formula in python over the pivot-disciplined moments (values are
    quarter-integers, so d = v - min is exactly representable and the
    DECIMAL(38,12) folds equal the exact sums); n < 2 cells and
    missing-control experiments yield NULL t with has_control
    surfacing the latter."""
    from collections import defaultdict

    from meshinsights_data_pipeline_spark.operators.abtest import (
        welch_ttest,
    )

    agg = defaultdict(list)
    for e, a, vals in cells:
        agg[(f"e{e}", f"a{a}")] += [v / 4.0 for v in vals]
    rows = [
        (e, a, v) for (e, a), vals in agg.items() for v in vals
    ]
    df = spark.createDataFrame(rows, "exp string, arm string, v double")
    got = {
        (r.exp, r.arm): (r.t, r.df, r.has_control)
        for r in welch_ttest(
            df, "exp", "arm", "v", control_label="a0"
        ).collect()
    }

    def stats(vals):
        n, p = len(vals), min(vals)
        s = sum(v - p for v in vals)          # exact: dyadic quarters
        sq = sum((v - p) * (v - p) for v in vals)
        mean = p + s / n
        var = ((sq / n - (s / n) * (s / n)) * (n / (n - 1))
               if n >= 2 else None)
        return n, mean, var

    expect = {}
    for (e, a), vals in agg.items():
        if a == "a0":
            continue
        if (e, "a0") not in agg:
            expect[(e, a)] = (None, None, False)
            continue
        n_a, mean_a, var_a = stats(vals)
        n_c, mean_c, var_c = stats(agg[(e, "a0")])
        if var_a is None or var_c is None:
            expect[(e, a)] = (None, None, True)
            continue
        a1, a2 = var_a / n_a, var_c / n_c
        se = (a1 + a2) ** 0.5
        if se > 0:
            t = round((mean_a - mean_c) / se, 6)
            wdf = round(
                (a1 + a2) * (a1 + a2)
                / (a1 * a1 / (n_a - 1) + a2 * a2 / (n_c - 1)), 6)
            expect[(e, a)] = (t, wdf, True)
        else:
            expect[(e, a)] = (None, None, True)
    assert got == expect


@given(
    cells=st.lists(
        st.tuples(st.integers(0, 1),                 # experiment
                  st.integers(0, 2),                 # arm id (0 = control)
                  st.lists(st.integers(-4, 4),       # metric (forced ties)
                           min_size=1, max_size=10)),
        min_size=1, max_size=6,
    ),
)
@SLOW
def test_mann_whitney_matches_python_bitwise(spark, cells):
    """U is exact and z bit-identical to the textbook average-rank /
    tie-corrected / continuity-corrected formula computed in python
    with the same fixed op order (the -4..4 metric range forces heavy
    ties); all-tied pairs yield NULL z, missing controls surface."""
    from collections import Counter, defaultdict

    from meshinsights_data_pipeline_spark.operators.abtest import (
        mann_whitney_u,
    )

    agg = defaultdict(list)
    for e, a, vals in cells:
        agg[(f"e{e}", f"a{a}")] += [float(v) for v in vals]
    rows = [(e, a, v) for (e, a), vals in agg.items() for v in vals]
    df = spark.createDataFrame(rows, "exp string, arm string, v double")
    got = {
        (r.exp, r.arm): (r.u, r.z, r.has_control)
        for r in mann_whitney_u(
            df, "exp", "arm", "v", control_label="a0"
        ).collect()
    }

    expect = {}
    for (e, a), vals in agg.items():
        if a == "a0":
            continue
        ctrl = agg.get((e, "a0"), [])
        pool = Counter(vals) + Counter(ctrl)
        n_a, n_c = len(vals), len(ctrl)
        n = n_a + n_c
        # doubled average ranks from counts (the operator's algebra)
        r2 = {}
        cum = 0
        for v in sorted(pool):
            t = pool[v]
            r2[v] = 2 * cum + t + 1
            cum += t
        r2a = sum(Counter(vals)[v] * r2[v] for v in set(vals))
        u2 = r2a - n_a * (n_a + 1)
        u = u2 / 2.0
        if n_c == 0:
            # missing control masks u too — the degenerate one-sample
            # ranking gives u = 0 identically, which a dashboard would
            # misread as "every arm value below control"
            expect[(e, a)] = (None, None, False)
            continue
        ties = sum(t ** 3 - t for t in pool.values())
        d_half = float(u2 - n_a * n_c) / 2.0
        prod_d = float(n_a * n_c)
        tie_term = float(ties) / float(n * (n - 1)) if n >= 2 else 0.0
        var_u = prod_d / 12.0 * (float(n + 1) - tie_term)
        if not var_u > 0:
            z = None
        elif d_half > 0:
            z = round((d_half - 0.5) / var_u ** 0.5, 6) + 0.0
        elif d_half < 0:
            z = round((d_half + 0.5) / var_u ** 0.5, 6) + 0.0
        else:
            z = 0.0
        expect[(e, a)] = (u, z, True)
    assert got == expect


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1), st.integers(-8, 8)),
        min_size=2, max_size=40,
    ),
)
@SLOW
def test_mann_whitney_bucket_tier_matches_binned_exact(spark, rows):
    """The buckets= tier equals the exact U test computed over the
    pre-binned values (the histogram_fixed_width assignment) — the
    ks_drift quantization property, proven for the rank statistic:
    quantization changes the distribution being compared, never the
    test's exactness."""
    from meshinsights_data_pipeline_spark.operators.abtest import (
        mann_whitney_u,
    )

    import math

    data = [("e", "a0" if a == 0 else "t1", float(v)) for a, v in rows]
    df = spark.createDataFrame(data, "exp string, arm string, v double")
    k = 4
    lo = min(v for _, _, v in data)
    hi = max(v for _, _, v in data)
    width = (hi - lo) / k

    def bin_of(v):
        # divide-then-floor, matching Spark's floor(div) exactly (see
        # test_mann_whitney_bounds_edges_and_guards on python's //)
        if width <= 0:
            return 0.0
        return float(min(k - 1, int(math.floor((v - lo) / width))))

    binned = spark.createDataFrame(
        [(e, a, bin_of(v)) for e, a, v in data],
        "exp string, arm string, v double",
    )

    def canon(frame):
        return sorted(
            (r.exp, r.arm, r.n_control, r.n_arm, r.u, r.z, r.significant)
            for r in frame.collect()
        )

    assert canon(
        mann_whitney_u(df, "exp", "arm", "v", control_label="a0",
                       buckets=k)
    ) == canon(
        mann_whitney_u(binned, "exp", "arm", "v", control_label="a0")
    )


def test_mann_whitney_bounds_edges_and_guards(spark):
    """Explicit bounds: far-out values clamp to the edge bins without
    an ANSI overflow (the ks_value_counts lesson), and bounds without
    buckets raises."""
    import pytest

    from meshinsights_data_pipeline_spark.operators.abtest import (
        mann_whitney_u,
    )

    df = spark.createDataFrame(
        [("e", "a0", 3e7), ("e", "a0", 0.1), ("e", "t1", -3e7),
         ("e", "t1", 0.9), ("e", "t1", 1e300)],
        "exp string, arm string, v double",
    )
    rows = mann_whitney_u(
        df, "exp", "arm", "v", control_label="a0",
        buckets=10, bounds=(0.0, 1.0),
    ).collect()
    assert len(rows) == 1 and rows[0].n_control == 2
    # expected bins via the SAME IEEE expression: divide-then-floor,
    # NOT python's //, which floors the TRUE quotient (0.9 // 0.1 = 8)
    # while floor(0.9 / 0.1) floors the ROUNDED one (= 9, matching
    # Spark's floor(div))
    import math

    width = (1.0 - 0.0) / 10

    def bin_of(v):
        cv = max(0.0, min(1.0, v))
        return float(max(0, min(9, int(math.floor((cv - 0.0) / width)))))

    binned = spark.createDataFrame(
        [("e", "a0", bin_of(3e7)), ("e", "a0", bin_of(0.1)),
         ("e", "t1", bin_of(-3e7)), ("e", "t1", bin_of(0.9)),
         ("e", "t1", bin_of(1e300))],
        "exp string, arm string, v double",
    )
    (rb,) = mann_whitney_u(
        binned, "exp", "arm", "v", control_label="a0"
    ).collect()
    assert (rows[0].u, rows[0].z) == (rb.u, rb.z)
    with pytest.raises(ValueError, match="bounds without buckets"):
        mann_whitney_u(df, "exp", "arm", "v", control_label="a0",
                       bounds=(0.0, 1.0))


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1),      # experiment
                  st.integers(0, 2),      # arm (k = up to 3)
                  st.integers(-4, 4)),    # metric (forced ties)
        min_size=2, max_size=50,
    ),
)
@SLOW
def test_kruskal_wallis_matches_python(spark, rows):
    """H is bit-identical to the textbook tie-corrected formula
    computed in python with the operator's exact op order — doubled
    integer rank sums, per-arm R^2/n terms HALF_UP-quantized to the
    DECIMAL(38,6) fold's quantum, fixed-order IEEE H; all-tied
    experiments yield NULL, single-arm experiments don't emit."""
    from collections import Counter, defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from meshinsights_data_pipeline_spark.operators.abtest import (
        kruskal_wallis,
    )

    df = spark.createDataFrame(
        [(f"e{e}", f"a{a}", float(v)) for e, a, v in rows],
        "exp string, arm string, v double",
    )
    got = {
        (r.exp): (r.k_arms, r.n, r.dof, r.h)
        for r in kruskal_wallis(df, "exp", "arm", "v").collect()
    }
    by_exp = defaultdict(lambda: defaultdict(list))
    for e, a, v in rows:
        by_exp[f"e{e}"][f"a{a}"].append(float(v))
    expect = {}
    for e, arms in by_exp.items():
        if len(arms) < 2:
            assert e not in got
            continue
        pool = Counter(v for vals in arms.values() for v in vals)
        n = sum(pool.values())
        r2 = {}
        cum = 0
        for v in sorted(pool):
            r2[v] = 2 * cum + pool[v] + 1
            cum += pool[v]
        s4 = Decimal(0)
        for vals in arms.values():
            r2a = sum(Counter(vals)[v] * r2[v] for v in set(vals))
            term = float(r2a) * float(r2a) / len(vals)
            s4 += Decimal(term).quantize(
                Decimal("1e-6"), rounding=ROUND_HALF_UP
            )
        s4f = float(s4)
        ties = sum(t ** 3 - t for t in pool.values())
        h_raw = 3.0 * s4f / float(n * (n + 1)) - 3.0 * float(n + 1)
        corr = 1.0 - float(ties) / float(n ** 3 - n) if n >= 2 else 0.0
        h = round(h_raw / corr, 6) + 0.0 if corr > 0 else None
        expect[e] = (len(arms), n, len(arms) - 1, h)
    assert got == expect


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1),      # group
                  st.integers(-3, 3),     # x (heavy ties)
                  st.integers(-5, 5)),    # y
        min_size=1, max_size=40,
    ),
)
@SLOW
def test_spearman_matches_python(spark, rows):
    """rho is bit-identical to the closed-form average-rank Spearman
    computed in python over exact integers (doubled ranks cancel);
    constant columns and singleton groups yield NULL."""
    import math
    from collections import Counter, defaultdict

    from meshinsights_data_pipeline_spark.operators.stats import (
        spearman_correlation,
    )

    data = [(f"g{g}", float(x), float(y)) for g, x, y in rows]
    noisy = data + [
        ("g0", None, 1.0), ("g0", 1.0, float("nan")), (None, 1.0, 1.0)
    ]
    df = spark.createDataFrame(noisy, "g string, x double, y double")
    got = {
        r.g: (r.n, r.rho)
        for r in spearman_correlation(df, ["g"], "x", "y").collect()
    }
    by_g = defaultdict(list)
    for g, x, y in data:
        by_g[g].append((x, y))
    expect = {}
    for g, pts in by_g.items():
        n = len(pts)

        def ranks(vals):
            cnt = Counter(vals)
            r2, cum = {}, 0
            for v in sorted(cnt):
                r2[v] = 2 * cum + cnt[v] + 1
                cum += cnt[v]
            return r2

        r2x = ranks([x for x, _ in pts])
        r2y = ranks([y for _, y in pts])
        rx = [r2x[x] for x, _ in pts]
        ry = [r2y[y] for _, y in pts]
        sx, sy = sum(rx), sum(ry)
        sxx = sum(v * v for v in rx)
        syy = sum(v * v for v in ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        num = n * sxy - sx * sy
        d1 = n * sxx - sx * sx
        d2 = n * syy - sy * sy
        if n >= 2 and d1 > 0 and d2 > 0:
            rho = round(
                float(num) / math.sqrt(float(d1) * float(d2)), 6
            ) + 0.0
        else:
            rho = None
        expect[g] = (n, rho)
    assert got == expect


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1),               # group
                  st.integers(0, 3),               # category
                  st.integers(-20, 20)),           # metric * 4
        min_size=1, max_size=40,
    ),
)
@SLOW
def test_correlation_ratio_matches_python(spark, rows):
    """eta^2 is bit-identical to SS_between/SS_total computed in python
    with the operator's op order (quarter-integer values make the
    DECIMAL(38,12) folds exact; the DECIMAL(38,6) term fold is
    mirrored via HALF_UP quantization); constant groups yield NULL and
    eta^2 lands in [0, 1]."""
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from meshinsights_data_pipeline_spark.operators.stats import (
        correlation_ratio,
    )

    data = [(f"g{g}", f"c{c}", v / 4.0) for g, c, v in rows]
    noisy = data + [
        ("g0", None, 1.0), ("g0", "c0", None),
        ("g0", "c0", float("nan")), (None, "c0", 1.0),
    ]
    df = spark.createDataFrame(noisy, "g string, cat string, v double")
    got = {
        r.g: (r.n, r.k_levels, r.eta2)
        for r in correlation_ratio(df, ["g"], "cat", "v").collect()
    }
    by_g = defaultdict(lambda: defaultdict(list))
    for g, c, v in data:
        by_g[g][c].append(v)
    expect = {}
    for g, cats in by_g.items():
        vals = [v for vs in cats.values() for v in vs]
        n, p = len(vals), min(vals)
        s = sum(v - p for v in vals)          # exact dyadic sums
        sq = sum((v - p) * (v - p) for v in vals)
        t1 = Decimal(0)
        for vs in cats.values():
            s_c = sum(v - p for v in vs)
            t1 += Decimal(s_c * s_c / len(vs)).quantize(
                Decimal("1e-6"), rounding=ROUND_HALF_UP
            )
        t1f = float(t1)
        corr = s * s / n
        sst = sq - corr
        if n >= 2 and sst > 0:
            eta2 = round((t1f - corr) / sst, 6) + 0.0
            assert -1e-9 <= eta2 <= 1.0 + 1e-9
        else:
            eta2 = None
        expect[g] = (n, len(cats), eta2)
    assert got == expect


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 3)),
        min_size=1, max_size=60,
    ),
)
@SLOW
def test_chi2_independence_matches_python(spark, pairs):
    """chi2/Cramér's V equal the textbook contingency formula computed
    in python (exact-integer cell algebra, one rounding per term);
    single-level margins yield chi2 = 0 and NULL V."""
    from collections import Counter

    from meshinsights_data_pipeline_spark.operators.dq import (
        chi2_independence,
    )

    df = spark.createDataFrame(
        [(f"a{a}", f"b{b}") for a, b in pairs], "x string, y string"
    )
    (r,) = chi2_independence(df, "x", "y").collect()
    cells = Counter(pairs)
    rows = Counter(a for a, _ in pairs)
    cols = Counter(b for _, b in pairs)
    n = len(pairs)
    chi2 = sum(
        float(o * n - rows[a] * cols[b]) ** 2 / float(n * rows[a] * cols[b])
        for (a, b), o in cells.items()
    )
    dof_min = min(len(rows) - 1, len(cols) - 1)
    assert (r.n, r.r_levels, r.c_levels) == (n, len(rows), len(cols))
    assert r.dof == (len(rows) - 1) * (len(cols) - 1)
    assert abs(r.chi2 - round(chi2, 6)) < 1e-9
    if dof_min >= 1:
        assert abs(r.cramers_v - round((chi2 / (n * dof_min)) ** 0.5, 6)) < 1e-9
    else:
        assert r.cramers_v is None


@given(
    vals=st.lists(st.floats(-15, 15, allow_nan=False,
                            allow_infinity=False),
                  min_size=2, max_size=24),
    cut=st.integers(1, 23),
)
@SLOW
def test_cusum_carry_identity_any_split(spark, vals, cut):
    """The streaming twin's algebra, directly: for ANY split point,
    scoring the suffix with the prefix's final exact statistics folded
    into the running-min floor (_cusum_exact carry columns) is
    bit-identical to the batch operator over the whole series."""
    from datetime import datetime, timedelta

    from meshinsights_data_pipeline_spark.operators.changepoint import (
        _cusum_clean,
        _cusum_exact,
        _cusum_round,
        cusum_changepoints,
    )
    from pyspark.sql import functions as F

    cut = min(cut, len(vals) - 1)
    base = datetime(2024, 1, 1)
    mk = lambda pairs: spark.createDataFrame(  # noqa: E731
        [(1, base + timedelta(hours=i), i, float(v)) for i, v in pairs],
        "k int, ts timestamp, event_id long, value double")
    full = mk(list(enumerate(vals)))
    prefix, suffix = mk(list(enumerate(vals))[:cut]), mk(
        list(enumerate(vals))[cut:])

    whole = {r.event_id: (r.s_plus, r.s_minus) for r in cusum_changepoints(
        full, "ts", ["k"], "value", "event_id",
        target=1.0, slack=0.5, threshold=3.0).collect()}

    pre = _cusum_exact(
        _cusum_clean(prefix, "ts", ["k"], "value", "event_id", 1.0, 0.5),
        "ts", ["k"], "event_id")
    last = pre.orderBy(F.col("ts").desc(), F.col("event_id").desc()).limit(
        1).select(F.col("k"), F.col("_sp").alias("_cp"),
                  F.col("_sm").alias("_cm"))
    seeded = _cusum_clean(
        suffix, "ts", ["k"], "value", "event_id", 1.0, 0.5
    ).join(last, "k", "left")
    scored = _cusum_round(
        _cusum_exact(seeded, "ts", ["k"], "event_id",
                     carry_p="_cp", carry_m="_cm"),
        "ts", ["k"], "value", "event_id", 3.0)
    got = {r.event_id: (r.s_plus, r.s_minus) for r in scored.collect()}
    assert got == {e: s for e, s in whole.items() if e >= cut}


@given(
    obs=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 30),
                  st.floats(-50, 50, allow_nan=False,
                            allow_infinity=False)),
        min_size=1, max_size=30,
    ),
    k=st.integers(1, 6),
)
@SLOW
def test_exp_weighted_avg_matches_python(spark, obs, k):
    """The lag-chain EWA equals the same fixed-order fold in python
    over each key's (ts, id)-ordered clean series, for any window
    length — including the short-series head where the denominator
    re-normalizes over the present terms only."""
    from datetime import datetime, timedelta

    from meshinsights_data_pipeline_spark.operators.rollup import (
        exp_weighted_avg,
    )

    base = datetime(2024, 1, 1)
    rows = [(g, base + timedelta(minutes=t), i, float(v))
            for i, (g, t, v) in enumerate(obs)]
    df = spark.createDataFrame(
        rows, "k int, ts timestamp, event_id long, value double")
    got = {r.event_id: r.ewa for r in exp_weighted_avg(
        df, "ts", ["k"], "value", "event_id", alpha=0.5, k=k).collect()}
    for g in {r[0] for r in rows}:
        series = sorted((r for r in rows if r[0] == g),
                        key=lambda r: (r[1], r[2]))
        for pos, (_, _, eid, _) in enumerate(series):
            num = den = 0.0
            for j in range(k):          # same j-order fold as the operator
                if pos - j < 0:
                    num = num + 0.0
                else:
                    w = 0.5 * 0.5 ** j
                    num = num + series[pos - j][3] * w
                    den = den + w
            assert got[eid] == round(num / den, 6)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20), st.integers(-4, 4)),
        min_size=2,
        max_size=40,
    )
)
@SLOW
def test_mann_kendall_matches_python(spark, rows):
    """Trend: S over strictly time-ordered pairs (time-tied pairs weigh
    0), the TWO-WAY tie-corrected var(S), continuity-corrected z, and
    the Theil-Sen median slope all match an independent pure-Python
    reference on random integer series (the 0-20 time range forces
    frequent time ties, the -4..4 value range frequent value ties)."""
    from datetime import datetime, timedelta

    from meshinsights_data_pipeline_spark.operators.trend import (
        mann_kendall_trend,
    )

    base = datetime(2024, 1, 1)
    data = [
        (g, base + timedelta(seconds=t), float(v)) for g, t, v in rows
    ]
    df = spark.createDataFrame(data, "g int, ts timestamp, v double")
    got = {
        r["g"]: r
        for r in mann_kendall_trend(df, "ts", ["g"], "v").collect()
    }
    from collections import Counter as _C

    for g in {g for g, _, _ in rows}:
        series = sorted((t, float(v)) for gg, t, v in rows if gg == g)
        n = len(series)
        if n < 2:
            assert g not in got
            continue
        s = 0
        slopes = []
        for i in range(n):
            for j in range(i + 1, n):
                dt = series[j][0] - series[i][0]  # integer seconds
                if dt <= 0:
                    continue  # time-tied pairs weigh 0
                dv = series[j][1] - series[i][1]
                s += (dv > 0) - (dv < 0)
                slopes.append(dv / dt)
        vt = _C(v for _, v in series).values()
        ut = _C(t for t, _ in series).values()
        var = (
            n * (n - 1) * (2 * n + 5)
            - sum(t * (t - 1) * (2 * t + 5) for t in vt)
            - sum(u * (u - 1) * (2 * u + 5) for u in ut)
        ) / 18.0
        if n >= 3:
            var += (
                sum(t * (t - 1) * (t - 2) for t in vt)
                * sum(u * (u - 1) * (u - 2) for u in ut)
                / (9.0 * n * (n - 1) * (n - 2))
            )
        var += (
            sum(t * (t - 1) for t in vt)
            * sum(u * (u - 1) for u in ut)
            / (2.0 * n * (n - 1))
        )
        r = got[g]
        assert r["n"] == n and r["s"] == s
        assert abs(r["var_s"] - round(var, 6)) < 1e-6, (g, r["var_s"], var)
        if round(var, 6) <= 0:
            assert r["z"] is None
        elif s == 0:
            assert r["z"] == 0.0
        else:
            expect_z = (s - 1 if s > 0 else s + 1) / (round(var, 6) ** 0.5)
            assert abs(r["z"] - expect_z) < 2e-6
        if slopes:
            slopes.sort()
            k = len(slopes)
            mid = (
                slopes[k // 2]
                if k % 2
                else (slopes[k // 2 - 1] + slopes[k // 2]) / 2
            )
            assert abs(r["sen_slope"] - mid) < 2e-6
        else:
            assert r["sen_slope"] is None


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(-8, 8)),
        min_size=1,
        max_size=60,
    )
)
@SLOW
def test_ks_drift_matches_python(spark, rows):
    """KS: the exact-integer arg-max formulation equals the direct
    max-over-values |ECDF_g - ECDF_corpus| computed with Fractions."""
    from fractions import Fraction

    from meshinsights_data_pipeline_spark.operators.stats import ks_drift

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "g int, v double"
    )
    got = {r["g"]: r for r in ks_drift(df, "g", "v").collect()}
    all_vals = sorted({v for _, v in rows})
    n = len(rows)
    for g in {g for g, _ in rows}:
        mine = sorted(v for gg, v in rows if gg == g)
        n_g = len(mine)
        best = max(
            abs(
                Fraction(sum(1 for x in mine if x <= v), n_g)
                - Fraction(sum(1 for _, x in rows if x <= v), n)
            )
            for v in all_vals
        )
        r = got[g]
        assert r["n"] == n_g
        assert abs(r["ks"] - round(float(best), 6)) < 1e-9


@given(
    vals=st.lists(
        st.floats(
            min_value=0.001, max_value=9e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=50,
    )
)
@SLOW
def test_benford_matches_python(spark, vals):
    """Benford: chi2 and max_dev match a pure-Python reference that
    extracts first digits from the quantized decimal rendering —
    including the full expected-weight contribution of absent digits."""
    from decimal import ROUND_HALF_UP, Decimal

    from meshinsights_data_pipeline_spark.operators.dq import (
        BENFORD_EXPECTED,
        benford_deviation,
    )

    df = spark.createDataFrame([("a", float(v)) for v in vals], "g string, v double")
    out = benford_deviation(df, "g", "v").collect()
    digits = []
    for v in vals:
        q = Decimal(repr(abs(v))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
        ds = [c for c in str(q) if c in "123456789"]
        if ds:
            digits.append(int(ds[0]))
    if not digits:
        assert out == []
        return
    (r,) = out
    n = len(digits)
    chi2 = 0.0
    max_dev = 0.0
    for d, e_s in BENFORD_EXPECTED.items():
        e = float(e_s)
        p = digits.count(d) / n
        chi2 += (p - e) * (p - e) / e
        max_dev = max(max_dev, abs(p - e))
    assert r["n"] == n
    assert abs(r["chi2"] - n * chi2) < 1e-5
    assert abs(r["max_dev"] - max_dev) < 2e-6


def test_token_entropy_uniform_and_degenerate(spark):
    """Entropy/Gini closed forms: a uniform token distribution has
    entropy ln(K), norm_entropy 1, gini 0; a single-type source has
    entropy 0, norm_entropy NULL, gini 0."""
    import math

    from meshinsights_data_pipeline_spark.operators.corpus import (
        source_token_entropy,
    )

    df = spark.createDataFrame(
        [("u", "alpha beta gamma"), ("k", "same same same")],
        "source string, text string",
    )
    got = {r["source"]: r for r in source_token_entropy(df, "source", "text").collect()}
    u = got["u"]
    assert u["n_tokens"] == 3 and u["n_types"] == 3
    assert abs(u["entropy"] - round(math.log(3), 6)) < 1e-9
    assert u["norm_entropy"] == 1.0
    assert u["gini"] == 0.0
    k = got["k"]
    assert k["n_tokens"] == 3 and k["n_types"] == 1
    assert k["entropy"] == 0.0
    assert k["norm_entropy"] is None
    assert k["gini"] == 0.0


@given(
    toks=st.lists(st.integers(0, 6), min_size=1, max_size=60),
)
@SLOW
def test_token_entropy_matches_python(spark, toks):
    """Entropy/Gini match a pure-Python reference on random token bags."""
    import math
    from collections import Counter as _C

    from meshinsights_data_pipeline_spark.operators.corpus import (
        source_token_entropy,
    )

    text = " ".join(f"t{t}" for t in toks)
    df = spark.createDataFrame([("s", text)], "source string, text string")
    (r,) = source_token_entropy(df, "source", "text").collect()
    counts = sorted(_C(toks).values())
    n, k = sum(counts), len(counts)
    h = math.log(n) - sum(c * math.log(c) for c in counts) / n
    gini = (
        2 * sum(i * c for i, c in enumerate(counts, start=1)) - (k + 1) * n
    ) / (k * n)
    assert r["n_tokens"] == n and r["n_types"] == k
    assert abs(r["entropy"] - h) < 2e-6
    assert abs(r["gini"] - gini) < 2e-6
    if k >= 2:
        assert abs(r["norm_entropy"] - h / math.log(k)) < 2e-6
    else:
        assert r["norm_entropy"] is None


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 8), st.booleans()),
        min_size=1,
        max_size=40,
    )
)
@SLOW
def test_km_survival_matches_python(spark, rows):
    """Kaplan-Meier: the exp(decimal-folded ln-sum) formulation equals
    the textbook sequential product per group, including tied durations,
    censored-only times (no row, but risk-set shrink), and the n=d
    full-death drop to exactly 0."""
    from meshinsights_data_pipeline_spark.operators.survival import (
        km_survival,
    )

    df = spark.createDataFrame(
        [(g, t, e) for g, t, e in rows], "g int, t long, e boolean"
    )
    got = {
        (r["g"], r["t"]): (r["n_risk"], r["n_events"], r["survival"])
        for r in km_survival(df, ["g"], "t", "e").collect()
    }
    expect = {}
    for g in {r[0] for r in rows}:
        mine = [(t, e) for gg, t, e in rows if gg == g]
        s = 1.0
        for t in sorted({t for t, _ in mine}):
            n_risk = sum(1 for tt, _ in mine if tt >= t)
            d = sum(1 for tt, e in mine if tt == t and e)
            if d >= 1:
                s = s * (1.0 - d / n_risk)
                expect[(g, t)] = (n_risk, d, s)
    assert set(got) == set(expect)
    for k, (n_risk, d, s) in expect.items():
        gn, gd, gs = got[k]
        assert gn == n_risk and gd == d
        assert abs(gs - s) < 2e-6, (k, gs, s)
        if s == 0.0:
            assert gs == 0.0  # exact zero, not exp(-huge)


def test_embedding_covariance_and_pca_match_numpy(spark):
    """Covariance cells equal numpy's population cov; the PCA round trip
    (components from the distributed cov, projection via broadcast
    literals) reconstructs numpy's PCA scores up to the pinned sign."""
    import numpy as np

    from meshinsights_data_pipeline_spark.operators.similarity import (
        embedding_covariance,
        pca_components,
        pca_project,
    )

    rng = np.random.RandomState(7)
    x = rng.randn(40, 5) @ rng.randn(5, 5) + rng.randn(5)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "id long, vec array<double>",
    )
    cells = embedding_covariance(df, "id", "vec", round_to=9).collect()
    cov_np = np.cov(x, rowvar=False, bias=True)
    means_np = x.mean(axis=0)
    assert len(cells) == 15  # 5*6/2 upper-triangle pairs
    for r in cells:
        assert abs(r["cov"] - cov_np[r["i"] - 1, r["j"] - 1]) < 1e-6
        assert abs(r["mean_i"] - means_np[r["i"] - 1]) < 1e-6
        assert r["n"] == 40

    comps, evals, op_means = pca_components(df, "id", "vec", k=2)
    assert np.allclose(op_means, means_np, atol=1e-6)
    w_np, v_np = np.linalg.eigh(cov_np)
    order = np.argsort(w_np)[::-1][:2]
    for c, ev, idx in zip(comps, evals, order):
        assert abs(ev - w_np[idx]) < 1e-6
        ref = v_np[:, idx]
        pivot = int(np.argmax(np.abs(ref)))
        if ref[pivot] < 0:
            ref = -ref
        assert np.allclose(c, ref, atol=1e-6)

    proj = {
        r["id"]: r["pca"]
        for r in pca_project(
            df, "id", "vec", comps, means=[float(m) for m in means_np]
        ).collect()
    }
    centered = x - means_np
    for i in range(40):
        ref = [float(centered[i] @ np.array(c)) for c in comps]
        assert np.allclose(proj[i], ref, atol=1e-6)


def test_drift_family_edge_exclusions(spark):
    """Review-fix pins: NULL group keys are excluded from ks_drift and
    benford_deviation (not scored as spurious maximal drift); values at
    or beyond the DECIMAL(18,6) domain (2e12, Infinity) are excluded
    from Benford instead of throwing under ANSI; NULL-timestamp rows
    are excluded from Mann-Kendall entirely (not silently inflating n
    and deflating z)."""
    from datetime import datetime

    from meshinsights_data_pipeline_spark.operators.dq import (
        benford_deviation,
    )
    from meshinsights_data_pipeline_spark.operators.stats import ks_drift
    from meshinsights_data_pipeline_spark.operators.trend import (
        mann_kendall_trend,
    )

    ks = ks_drift(
        spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), (None, 1.0), ("b", 3.0)],
            "g string, v double",
        ),
        "g",
        "v",
    ).collect()
    assert sorted(r["g"] for r in ks) == ["a", "b"]

    bf = benford_deviation(
        spark.createDataFrame(
            [("a", 123.0), ("a", 2.0e12), ("a", float("inf")),
             ("a", float("-inf")), (None, 5.0), ("a", 47.0)],
            "g string, v double",
        ),
        "g",
        "v",
    ).collect()
    assert [(r["g"], r["n"]) for r in bf] == [("a", 2)]

    base = datetime(2024, 1, 1)
    mk = mann_kendall_trend(
        spark.createDataFrame(
            [(0, base, 1.0), (0, base.replace(day=2), 2.0),
             (0, base.replace(day=3), 3.0), (0, None, 9.0), (0, None, 9.0)],
            "g int, ts timestamp, v double",
        ),
        "ts",
        ["g"],
        "v",
    ).collect()
    assert [(r["g"], r["n"], r["s"]) for r in mk] == [(0, 3, 3)]


def test_mann_kendall_time_ties_sign_invariance(spark):
    """Review-fix pin: a pair sharing a timestamp carries no temporal
    order, so it must not contribute to S — under the old id tiebreak,
    relabeling ids flipped the reported trend direction."""
    from datetime import datetime

    from meshinsights_data_pipeline_spark.operators.trend import (
        mann_kendall_trend,
    )

    base = datetime(2024, 1, 1)
    rows = [(0, base, 1.0), (0, base, 2.0), (0, base.replace(day=2), 1.5)]
    (r,) = mann_kendall_trend(
        spark.createDataFrame(rows, "g int, ts timestamp, v double"),
        "ts",
        ["g"],
        "v",
    ).collect()
    # the tied pair (1.0 vs 2.0) weighs 0; the two ordered pairs are
    # 1.0 -> 1.5 (+1) and 2.0 -> 1.5 (-1)
    assert r["s"] == 0 and r["n"] == 3


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20), st.integers(-4, 4)),
        min_size=2,
        max_size=40,
    ),
    cap=st.integers(2, 12),
)
@SLOW
def test_mann_kendall_cap_n_equals_trend_of_capped_input(spark, rows, cap):
    """cap_n algebra (the x90 max_doc_freq precedent for the verdict's
    bounded-series prescription): mann_kendall_trend(df, cap_n=N)
    equals mann_kendall_trend over the pre-capped input — per group the
    N most-recent CLEAN rows by (ts desc, value desc), so NULL/NaN rows
    (injected below) never consume cap slots. The 0-20 time range
    forces ties; the value-desc tiebreak makes the kept multiset
    deterministic in both the operator and this reference."""
    from datetime import datetime, timedelta

    from meshinsights_data_pipeline_spark.operators.trend import (
        mann_kendall_trend,
    )

    base = datetime(2024, 1, 1)
    data = [
        (g, base + timedelta(seconds=t), float(v)) for g, t, v in rows
    ]
    noisy = data + [
        (0, None, 3.0), (1, base, None), (2, base, float("nan"))
    ]
    df = spark.createDataFrame(noisy, "g int, ts timestamp, v double")

    kept = []
    for g in {g for g, _, _ in rows}:
        mine = sorted(
            ((ts, v) for gg, ts, v in data if gg == g),
            key=lambda tv: (tv[0], tv[1]),
            reverse=True,
        )
        kept += [(g, ts, v) for ts, v in mine[:cap]]
    capped_df = spark.createDataFrame(
        kept, "g int, ts timestamp, v double"
    )

    def canon(frame):
        return sorted(
            (r["g"], r["n"], r["s"], r["var_s"], r["z"], r["sen_slope"])
            for r in frame.collect()
        )

    assert canon(
        mann_kendall_trend(df, "ts", ["g"], "v", cap_n=cap)
    ) == canon(mann_kendall_trend(capped_df, "ts", ["g"], "v"))


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(-20, 20)),
        min_size=1,
        max_size=30,
    )
)
@SLOW
def test_autocorrelation_matches_python(spark, rows):
    """acf_k is bit-identical to the n-normalized sample ACF computed in
    python with the same pivot-disciplined mean and fixed op order
    (values are quarter-integers so every fold is exact); constant and
    too-short groups yield NULL."""
    from datetime import datetime, timedelta

    from meshinsights_data_pipeline_spark.operators.trend import (
        autocorrelation,
    )

    base = datetime(2024, 1, 1)
    data = [
        (g, base + timedelta(seconds=i), i, v / 4.0)
        for i, (g, v) in enumerate(rows)
    ]
    noisy = data + [(0, None, 900, 1.0), (1, base, 901, None)]
    df = spark.createDataFrame(
        noisy, "g int, ts timestamp, id long, v double"
    )
    lags = 3
    got = {
        (r["g"], r["lag"]): (r["n"], r["acf"])
        for r in autocorrelation(
            df, "ts", ["g"], "v", "id", lags=lags
        ).collect()
    }
    expect = {}
    for g in {g for g, _ in rows}:
        series = [v / 4.0 for gg, v in rows if gg == g]
        n, p = len(series), min(series)
        s = sum(v - p for v in series)       # exact dyadic sums
        mean = p + s / n
        d = [v - mean for v in series]
        den = sum(x * x for x in d)
        for k in range(1, lags + 1):
            if den > 0 and n > k:
                num = sum(d[i] * d[i - k] for i in range(k, n))
                expect[(g, k)] = (n, round(num / den, 6))
            else:
                expect[(g, k)] = (n, None)
    assert set(got) == set(expect)
    for key in expect:
        en, ea = expect[key]
        gn, ga = got[key]
        assert gn == en
        if ea is None:
            assert ga is None
        else:
            assert ga == ea + 0.0, (key, ga, ea)


def test_js_divergence_matches_python_and_bounds(spark):
    """JS equals the textbook 0.5*KL(P||M) + 0.5*KL(Q||M) computed in
    python over the token counts (within the fold/libm tolerance); a
    source distributed identically to the corpus scores 0; disjoint
    sources score the ln2 bound; js_norm lands in [0, 1]."""
    import math

    from meshinsights_data_pipeline_spark.operators.corpus import (
        source_js_divergence,
    )

    docs = [
        (1, "webA", "alpha beta beta gamma"),
        (2, "webB", "alpha beta beta gamma"),   # identical mix -> js 0
        (3, "pdf", "delta delta epsilon"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    got = {r["source"]: r for r in
           source_js_divergence(df, "source", "text").collect()}

    from collections import Counter
    per = {s: Counter(t.split()) for _, s, t in docs}
    merged = Counter()
    for c in per.values():
        merged.update(c)
    n = sum(merged.values())
    for s, cnt in per.items():
        ns = sum(cnt.values())
        js = 0.0
        for tok, ct in merged.items():
            p = cnt.get(tok, 0) / ns
            q = ct / n
            m = (p + q) / 2.0
            if p > 0:
                js += 0.5 * p * math.log(p / m)
            js += 0.5 * q * math.log(q / m)
        r = got[s]
        assert abs(r["js"] - js) < 1e-6, (s, r["js"], js)
        assert 0.0 <= r["js_norm"] <= 1.0
        assert r["n_tokens"] == ns and r["n_types"] == len(cnt)

    # two identical single-source halves: each IS the corpus mix -> 0
    same = spark.createDataFrame(
        [(1, "a", "x y y z"), (2, "b", "x y y z")],
        "doc_id long, source string, text string",
    )
    for r in source_js_divergence(same, "source", "text").collect():
        assert r["js"] == 0.0 and r["js_norm"] == 0.0


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(-6, 6)),
        min_size=1,
        max_size=40,
    )
)
@SLOW
def test_quantile_normalize_matches_python(spark, rows):
    """Quantile normalization equals the pure-python definition: the
    corpus sorted-multiset value at the within-group quantile position,
    linearly interpolated; singleton groups map to the corpus median."""
    from meshinsights_data_pipeline_spark.operators.stats import (
        quantile_normalize,
    )

    data = [(g, i, float(v)) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g int, id long, v double")
    got = {
        (r["g"], r["id"]): r["qnorm"]
        for r in quantile_normalize(df, "g", "v", "id").collect()
    }
    corpus = sorted(v for _, _, v in data)
    n = len(corpus)

    def corpus_at(p):
        pos = p * (n - 1)
        lo, hi = corpus[int(pos)], corpus[min(int(pos) + (pos > int(pos)), n - 1)]
        return lo + (hi - lo) * (pos - int(pos))

    for g in {g for g, _, _ in data}:
        mine = sorted((v, i) for gg, i, v in data if gg == g)
        n_g = len(mine)
        for r_idx, (v, i) in enumerate(mine, start=1):
            p = (r_idx - 1) / (n_g - 1) if n_g > 1 else 0.5
            expect = corpus_at(p)
            assert abs(got[(g, i)] - expect) < 2e-6, (g, i, got[(g, i)], expect)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        max_size=20,
    ),
    scores=st.lists(st.integers(0, 5), min_size=13, max_size=13),
)
@SLOW
def test_dedup_survivors_by_matches_union_find(spark, edges, scores):
    """Quality-aware collapse: survivors equal a pure-python union-find
    keeping argmax((score, -id)) per component; unclustered docs always
    pass through."""
    from meshinsights_data_pipeline_spark.operators.components import (
        dedup_survivors_by,
    )

    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(
        [(i, float(s)) for i, s in enumerate(scores)], "doc_id long, q double"
    )
    pairs = spark.createDataFrame(
        edges or [(0, 0)], "id_a long, id_b long"
    ).filter(F.col("id_a") != F.col("id_b"))
    got = sorted(
        r["doc_id"]
        for r in dedup_survivors_by(df, pairs, "doc_id", "q").collect()
    )
    parent = list(range(13))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps = {}
    clustered = {x for e in edges for x in e}
    for i in clustered:
        comps.setdefault(find(i), []).append(i)
    losers = set()
    for members in comps.values():
        best = max(members, key=lambda i: (scores[i], -i))
        losers |= set(members) - {best}
    expect = sorted(set(range(13)) - losers)
    assert got == expect, (edges, scores, got, expect)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(-8, 8)),
        min_size=1,
        max_size=50,
    )
)
@SLOW
def test_ks_drift_bucket_tier_matches_binned_exact(spark, rows):
    """The buckets= tier equals the exact KS computed over the binned
    values (same histogram_fixed_width assignment) — quantization
    changes the distribution being compared, never the statistic's
    exactness."""
    from fractions import Fraction

    from meshinsights_data_pipeline_spark.operators.stats import ks_drift

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "g int, v double"
    )
    k = 4
    got = {r["g"]: r["ks"] for r in ks_drift(df, "g", "v", buckets=k).collect()}
    lo, hi = min(v for _, v in rows), max(v for _, v in rows)
    width = (hi - lo) / k

    def bin_of(v):
        # divide-then-floor, matching Spark's floor(div): python's //
        # floors the TRUE quotient and can disagree by one bin when
        # the division is inexact (0.9 // 0.1 = 8 vs floor(0.9/0.1) = 9)
        import math

        return min(k - 1, int(math.floor((v - lo) / width))) if width > 0 else 0

    binned = [(g, bin_of(v)) for g, v in rows]
    all_bins = sorted({b for _, b in binned})
    n = len(binned)
    for g in {g for g, _ in binned}:
        mine = [b for gg, b in binned if gg == g]
        best = max(
            abs(
                Fraction(sum(1 for x in mine if x <= b), len(mine))
                - Fraction(sum(1 for _, x in binned if x <= b), n)
            )
            for b in all_bins
        )
        assert abs(got[g] - round(float(best), 6)) < 1e-9


def test_ks_bucket_explicit_bounds_clamp_far_out_of_range(spark):
    """Values ARBITRARILY far outside explicit bounds clamp to the edge
    bins (the docstring's promise) instead of crashing: the pre-fix
    floor((v-lo)/width)-then-INT-cast overflowed under ANSI mode
    (CAST_OVERFLOW at >= ~2^31 bin widths past the bounds, reproduced
    with bounds=(0,1), buckets=100, v=3e7) — the exact bounded-state
    tier meant to absorb unbounded junk values."""
    from meshinsights_data_pipeline_spark.operators.stats import (
        ks_drift,
        ks_value_counts,
    )

    df = spark.createDataFrame(
        [("a", 3e7), ("a", -3e7), ("a", 1e300), ("a", 0.005), ("b", 0.995)],
        "g string, v double",
    )
    bins = {
        (r["g"], r["_v"]): r["_c_gv"]
        for r in ks_value_counts(
            df, "g", "v", buckets=100, bounds=(0.0, 1.0)
        ).collect()
    }
    # 3e7 and 1e300 clamp to the TOP bin (99), -3e7 to bin 0 with the
    # in-range 0.005; in-range assignments are unchanged by the clamp.
    assert bins == {
        ("a", 99.0): 2, ("a", 0.0): 2, ("b", 99.0): 1,
    }, bins
    # and the statistic itself computes without an ANSI overflow
    got = {
        r["g"]: r["ks"]
        for r in ks_drift(
            df, "g", "v", buckets=100, bounds=(0.0, 1.0)
        ).collect()
    }
    assert set(got) == {"a", "b"}


def test_ks_bounds_without_buckets_raises(spark):
    """bounds without buckets raises instead of being silently ignored —
    a caller supplying bounds alone would otherwise get unbounded
    per-distinct-value state while believing the state is bounded."""
    import pytest

    from meshinsights_data_pipeline_spark.operators.stats import (
        ks_drift,
        ks_value_counts,
    )

    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    with pytest.raises(ValueError, match="bounds without buckets"):
        ks_value_counts(df, "g", "v", bounds=(0.0, 1.0))
    with pytest.raises(ValueError, match="bounds without buckets"):
        ks_drift(df, "g", "v", bounds=(0.0, 1.0))


def test_km_spine_nan_durations_drop(spark):
    """A NaN duration in a DOUBLE column drops with the NULLs (the
    ks/benford/trend domain-guard discipline): pre-fix it produced a
    NaN spine row sorting LAST, inflating n_g and keeping those
    subjects 'at risk' at every event time — biasing every survival
    value in the group."""
    from meshinsights_data_pipeline_spark.operators.survival import (
        km_survival,
    )

    rows = [("g", 1.0, True), ("g", 2.0, True), ("g", 2.0, False)]
    base = spark.createDataFrame(rows, "g string, t double, e boolean")
    noisy = spark.createDataFrame(
        rows + [("g", float("nan"), True), ("g", None, True)],
        "g string, t double, e boolean",
    )

    def canon(df):
        return sorted(
            (r["g"], r["t"], r["n_risk"], r["n_events"], r["survival"])
            for r in df.collect()
        )

    assert canon(km_survival(noisy, ["g"], "t", "e")) == canon(
        km_survival(base, ["g"], "t", "e")
    )


@given(
    docs=st.lists(
        st.tuples(st.integers(0, 2), st.sampled_from(
            ["alpha beta", "alpha beta gamma", "delta", "epsilon zeta"])),
        min_size=1,
        max_size=24,
    )
)
@SLOW
def test_source_duplicate_matrix_matches_python(spark, docs):
    """Duplicate matrix equals a pure-python set computation over
    normalized-text identities: distinct fingerprints per source, pair
    intersections, exact fractions; pairs without overlap are absent."""
    from meshinsights_data_pipeline_spark.operators.corpus import (
        source_duplicate_matrix,
    )

    df = spark.createDataFrame(
        [(f"s{g}", t) for g, t in docs], "source string, text string"
    )
    got = {
        (r["src_a"], r["src_b"]): (
            r["fp_a"], r["fp_b"], r["n_shared"],
            r["dup_frac_a"], r["dup_frac_b"],
        )
        for r in source_duplicate_matrix(df, "source", "text").collect()
    }
    sets = {}
    for g, t in docs:
        sets.setdefault(f"s{g}", set()).add(t)  # texts already normalized
    expect = {}
    srcs = sorted(sets)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            shared = len(sets[a] & sets[b])
            if shared:
                expect[(a, b)] = (
                    len(sets[a]), len(sets[b]), shared,
                    round(shared / len(sets[a]), 6),
                    round(shared / len(sets[b]), 6),
                )
    assert got == expect, (docs, got, expect)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1),      # group
                  st.integers(0, 1),      # label
                  st.integers(-4, 4)),    # score (forced ties)
        min_size=1, max_size=50,
    ),
)
@SLOW
def test_roc_auc_matches_python(spark, rows):
    """AUC is bit-identical to the rank-sum identity computed in
    python with the operator's exact op order (doubled integer rank
    sums, one multiply + one division); equals the brute-force
    P(pos > neg) + 0.5*P(pos = neg) definition; a single-class group
    yields NULL (the degenerate class surfaces, never auc=0)."""
    from collections import Counter, defaultdict

    from meshinsights_data_pipeline_spark.operators.mleval import roc_auc

    from decimal import Decimal, ROUND_HALF_UP

    def _r6(v: float) -> float:
        # mirror Spark's F.round: HALF_UP on the double's shortest repr
        # (integer-ratio statistics CAN land on 6dp repr midpoints,
        # where python's half-even round() diverges — the linkage flake)
        return float(
            Decimal(repr(v)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    data = [(f"g{g}", bool(y), float(s)) for g, y, s in rows]
    noisy = data + [
        ("g0", None, 1.0), ("g0", True, float("nan")), (None, True, 1.0)
    ]
    df = spark.createDataFrame(noisy, "g string, y boolean, s double")
    got = {
        r.g: (r.n_pos, r.n_neg, r.auc)
        for r in roc_auc(df, ["g"], "y", "s").collect()
    }

    by_g = defaultdict(list)
    for g, y, s in data:
        by_g[g].append((y, s))
    expect = {}
    for g, pts in by_g.items():
        pos = [s for y, s in pts if y]
        neg = [s for y, s in pts if not y]
        if not pos or not neg:
            expect[g] = (len(pos), len(neg), None)
            continue
        pool = Counter(s for _, s in pts)
        r2, cum = {}, 0
        for v in sorted(pool):
            r2[v] = 2 * cum + pool[v] + 1
            cum += pool[v]
        r2p = sum(r2[s] for s in pos)
        n_p, n_n = len(pos), len(neg)
        u2 = r2p - n_p * (n_p + 1)
        # the operator's exact op order: double(u2) / (2.0 * double(prod))
        auc = _r6(float(u2) / (2.0 * float(n_p * n_n))) + 0.0
        # brute force agrees (rank-sum identity, ties counted half)
        bf = sum(
            1.0 if p > q else 0.5 if p == q else 0.0
            for p in pos for q in neg
        ) / (n_p * n_n)
        assert abs(auc - bf) < 1e-6, (g, auc, bf)
        expect[g] = (n_p, n_n, auc)
    assert got == expect, (data, got, expect)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1),      # group
                  st.integers(0, 1),      # outcome
                  st.integers(-2, 12)),   # score*10 (exercises clamp)
        min_size=1, max_size=50,
    ),
)
@SLOW
def test_calibration_report_matches_python(spark, rows):
    """ECE/MCE/Brier are bit-identical to the binned definitions
    computed in python with the operator's exact op order — fixed
    [0,1] domain, clamp-before-cast bin assignment (out-of-range
    scores land in the edge bins), DECIMAL-quantized folds."""
    from collections import defaultdict
    from decimal import Decimal, ROUND_HALF_UP
    import math

    from meshinsights_data_pipeline_spark.operators.mleval import (
        calibration_report,
    )

    data = [(f"g{g}", float(s) / 10.0, bool(y)) for g, y, s in rows]
    noisy = data + [
        ("g0", None, True), ("g0", float("nan"), False),
        ("g0", 0.5, None), (None, 0.5, True),
    ]
    df = spark.createDataFrame(noisy, "g string, s double, y boolean")
    got = {
        r.g: (r.n, r.ece, r.mce, r.brier)
        for r in calibration_report(df, ["g"], "s", "y", bins=10).collect()
    }

    q12 = Decimal("0.000000000001")
    q18 = Decimal("0.000000000000000001")
    q6 = Decimal("0.000001")

    def d12(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(q12, rounding=ROUND_HALF_UP)

    by_gb = defaultdict(list)
    for g, s, y in data:
        cv = max(0.0, min(1.0, s))
        b = min(9, int(math.floor(cv * 10)))
        by_gb[(g, b)].append((s, 1 if y else 0))
    expect = {}
    per_g = defaultdict(list)
    for (g, b), pts in by_gb.items():
        per_g[g].append(pts)
    for g, bins_pts in per_g.items():
        n = sum(len(p) for p in bins_pts)
        e = Decimal(0)
        mce = 0.0
        bsum = Decimal(0)
        for pts in bins_pts:
            n_b = len(pts)
            ssum = sum((d12(s) for s, _ in pts), Decimal(0))
            np_ = sum(y for _, y in pts)
            conf = float(ssum) / n_b
            acc = float(np_) / n_b
            gap = abs(acc - conf)
            mce = max(mce, gap)
            e += Decimal(repr(float(n_b) * gap)).quantize(
                q18, rounding=ROUND_HALF_UP
            )
            bsum += sum(
                (d12((s - float(y)) * (s - float(y))) for s, y in pts),
                Decimal(0),
            )
        def _r6(v: float) -> float:
            # HALF_UP on shortest repr — mirrors Spark's F.round
            return float(
                Decimal(repr(v)).quantize(q6, rounding=ROUND_HALF_UP)
            )

        expect[g] = (
            n,
            _r6(float(e) / n) + 0.0,
            _r6(mce) + 0.0,
            _r6(float(bsum) / n) + 0.0,
        )
    assert got == expect, (data, got, expect)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1),      # group
                  st.integers(0, 2),      # rater a label
                  st.integers(0, 2)),     # rater b label
        min_size=1, max_size=50,
    ),
)
@SLOW
def test_cohens_kappa_matches_python(spark, rows):
    """kappa is bit-identical to the exact-integer rewrite
    (n*diag - sum_rc) / (n^2 - sum_rc) and equals the textbook
    (po - pe) / (1 - pe); both-raters-constant-and-agreeing groups
    yield NULL (pe = 1 — agreement is vacuous)."""
    from collections import Counter, defaultdict

    from meshinsights_data_pipeline_spark.operators.mleval import (
        cohens_kappa,
    )

    from decimal import Decimal, ROUND_HALF_UP

    def _r6(v: float) -> float:
        # mirror Spark's F.round: HALF_UP on the double's shortest repr
        # (integer-ratio statistics CAN land on 6dp repr midpoints,
        # where python's half-even round() diverges — the linkage flake)
        return float(
            Decimal(repr(v)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    data = [(f"g{g}", f"l{a}", f"l{b}") for g, a, b in rows]
    noisy = data + [("g0", None, "l0"), ("g0", "l0", None), (None, "l0", "l0")]
    df = spark.createDataFrame(noisy, "g string, a string, b string")
    got = {
        r.g: (r.n, r.po, r.pe, r.kappa)
        for r in cohens_kappa(df, ["g"], "a", "b").collect()
    }

    by_g = defaultdict(list)
    for g, a, b in data:
        by_g[g].append((a, b))
    expect = {}
    for g, pts in by_g.items():
        n = len(pts)
        diag = sum(1 for a, b in pts if a == b)
        ra = Counter(a for a, _ in pts)
        cb = Counter(b for _, b in pts)
        sum_rc = sum(ra[k] * cb.get(k, 0) for k in ra)
        po = _r6(float(diag) / n) + 0.0
        pe = _r6(float(sum_rc) / float(n * n)) + 0.0
        den = float(n * n - sum_rc)
        kappa = (
            _r6(float(n * diag - sum_rc) / den) + 0.0
            if den > 0 else None
        )
        expect[g] = (n, po, pe, kappa)
    assert got == expect, (data, got, expect)


@given(
    cells=st.lists(
        st.tuples(st.integers(0, 1),                 # experiment
                  st.integers(0, 2),                 # arm id (0 = control)
                  st.lists(st.integers(-4, 4),       # metric (forced ties)
                           min_size=1, max_size=10)),
        min_size=1, max_size=6,
    ),
)
@SLOW
def test_cliffs_delta_matches_brute_force(spark, cells):
    """delta is bit-identical to one IEEE division of the exact
    integers (2U - n_a*n_c, n_a*n_c) and equals the brute-force
    (#{a>c} - #{a<c}) / (n_a*n_c) definition; a missing control
    surfaces with has_control=false and NULL n_control/delta."""
    from collections import defaultdict

    from meshinsights_data_pipeline_spark.operators.abtest import (
        cliffs_delta,
    )

    from decimal import Decimal, ROUND_HALF_UP

    def _r6(v: float) -> float:
        # mirror Spark's F.round: HALF_UP on the double's shortest repr
        # (integer-ratio statistics CAN land on 6dp repr midpoints,
        # where python's half-even round() diverges — the linkage flake)
        return float(
            Decimal(repr(v)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    agg = defaultdict(list)
    for e, a, vals in cells:
        agg[(f"e{e}", f"a{a}")] += [float(v) for v in vals]
    rows = [(e, a, v) for (e, a), vals in agg.items() for v in vals]
    df = spark.createDataFrame(rows, "exp string, arm string, v double")
    got = {
        (r.exp, r.arm): (r.n_control, r.delta, r.has_control)
        for r in cliffs_delta(
            df, "exp", "arm", "v", control_label="a0"
        ).collect()
    }

    expect = {}
    for (e, a), vals in agg.items():
        if a == "a0":
            continue
        ctrl = agg.get((e, "a0"), [])
        if not ctrl:
            expect[(e, a)] = (None, None, False)
            continue
        gt = sum(1 for x in vals for y in ctrl if x > y)
        lt = sum(1 for x in vals for y in ctrl if x < y)
        prod = len(vals) * len(ctrl)
        delta = _r6(float(gt - lt) / float(prod)) + 0.0
        expect[(e, a)] = (len(ctrl), delta, True)
    assert got == expect, (dict(agg), got, expect)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1),      # group
                  st.integers(-4, 4)),    # metric
        min_size=1, max_size=12,
    ),
)
@SLOW
def test_bootstrap_mean_ci_matches_python(spark, rows):
    """The Poisson-bootstrap CI is bit-identical to a python mirror of
    the same deterministic procedure — md5-derived weights against the
    shared CDF literals, DECIMAL(38,12) replicate folds, exact
    interpolated percentiles — and the sample mean matches the plain
    mean (the b=-1 pseudo-replicate)."""
    import hashlib
    import math
    from collections import defaultdict
    from decimal import Decimal, ROUND_HALF_UP

    from meshinsights_data_pipeline_spark.operators.bootstrap import (
        BOOT_PRIME,
        POISSON1_CDF,
        bootstrap_mean_ci,
        replicate_constants,
    )

    B = 10
    data = [(f"g{g}", i, float(v)) for i, (g, v) in enumerate(rows)]
    noisy = data + [
        ("g0", 900, None), ("g0", 901, float("nan")), (None, 902, 1.0)
    ]
    df = spark.createDataFrame(noisy, "g string, id long, v double")
    got = {
        r.g: (r.n, r.b_reps, r.mean, r.ci_lo, r.ci_hi)
        for r in bootstrap_mean_ci(df, ["g"], "v", "id", b=B).collect()
    }

    cdf = [float(x) for x in POISSON1_CDF]
    q12 = Decimal("0.000000000001")

    def d12(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(q12, rounding=ROUND_HALF_UP)

    a_k, c_k = replicate_constants(B)

    def weight(idv: str, b: int) -> int:
        h = int(hashlib.md5(idv.encode()).hexdigest()[:15], 16) % BOOT_PRIME
        u = ((a_k[b] * h + c_k[b]) % BOOT_PRIME) / float(BOOT_PRIME)
        for k, t in enumerate(cdf):
            if u < t:
                return k
        return 6

    by_g = defaultdict(list)
    for g, i, v in data:
        by_g[g].append((str(i), v))
    expect = {}
    for g, pts in by_g.items():
        means = []
        for b in range(B):
            s, nw = Decimal(0), 0
            for idv, v in pts:
                w = weight(idv, b)
                s += d12(float(w * v))
                nw += w
            if nw > 0:
                means.append(float(s) / nw)
        means.sort()
        nb = len(means)

        def _r6(v: float) -> float:
            # HALF_UP on shortest repr — mirrors Spark's F.round
            return float(
                Decimal(repr(v)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )

        sm = _r6(
            float(sum((d12(1.0 * v) for _, v in pts), Decimal(0)))
            / len(pts)
        ) + 0.0
        if nb == 0:
            # LEFT-joined percentile frames: the group survives with
            # b_reps = 0 and NULL bounds (ADVICE r16)
            expect[g] = (len(pts), 0, sm, None, None)
            continue

        def pct(q: float) -> float:
            pos = float(nb - 1) * q
            lo, hi = math.floor(pos), math.ceil(pos)
            return _r6(
                means[lo] + (means[hi] - means[lo]) * (pos - lo)
            ) + 0.0

        expect[g] = (len(pts), nb, sm, pct(0.05 / 2.0), pct(1.0 - 0.05 / 2.0))
    assert got == expect, (data, got, expect)


@given(
    cells=st.lists(
        st.tuples(st.integers(0, 1),      # experiment
                  st.integers(0, 1),      # arm
                  st.integers(1, 400),    # n
                  st.integers(0, 400)),   # x (clamped to n)
        min_size=1, max_size=8,
    ),
    p=st.tuples(st.integers(1, 9), st.integers(1, 9)),
)
@example(cells=[(0, 0, 1, 0)], p=(9, 9))
@SLOW
def test_sprt_bernoulli_matches_python(spark, cells, p):
    """llr and the boundary decisions are bit-identical to the python
    Decimal mirror — the statistic is pure exact-decimal algebra over
    the shared quantized constants, so even exactly-on-boundary cells
    decide identically."""
    from decimal import Decimal

    from meshinsights_data_pipeline_spark.operators.abtest import (
        sprt_bernoulli,
        sprt_constants,
    )

    # equal tenths would be an untestable hypothesis pair: step the
    # second one away from the first, downward at the 0.9 edge
    t0, t1 = p
    if t0 == t1:
        t1 = t0 + 1 if t0 < 9 else t0 - 1
    p0, p1 = t0 / 10.0, t1 / 10.0
    agg = {}
    for e, a, n, x in cells:
        agg[(f"e{e}", f"a{a}")] = (n, min(x, n))
    rows = [
        (e, a, i < x)
        for (e, a), (n, x) in agg.items()
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "exp string, arm string, conv boolean")
    got = {
        (r.exp, r.arm): (r.n, r.x, r.llr, r.decision)
        for r in sprt_bernoulli(
            df, "exp", "arm", "conv", p0=p0, p1=p1
        ).collect()
    }

    from decimal import ROUND_HALF_UP

    k = sprt_constants(p0, p1)
    c1, c0 = Decimal(k["c1"]), Decimal(k["c0"])
    upper, lower = Decimal(k["upper"]), Decimal(k["lower"])

    def r6(v: float) -> float:
        # mirror Spark's F.round: HALF_UP on the double's shortest repr
        return float(
            Decimal(repr(v)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    expect = {}
    for (e, a), (n, x) in agg.items():
        llr = x * c1 + (n - x) * c0
        if llr >= upper:
            d = "accept_h1"
        elif llr <= lower:
            d = "accept_h0"
        else:
            d = "continue"
        expect[(e, a)] = (n, x, r6(float(llr)) + 0.0, d)
    assert got == expect, (agg, got, expect)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1),      # experiment
                  st.integers(0, 1),      # arm
                  st.integers(-5, 5),     # y
                  st.integers(-3, 3)),    # x
        min_size=2, max_size=40,
    ),
)
@SLOW
def test_cuped_matches_python(spark, rows):
    """CUPED-adjusted means/theta/var_reduction are bit-identical to a
    python mirror of the exact algebra — per-experiment pivots, decimal
    folds, fixed IEEE op order; constant covariates yield NULL theta
    and adjusted columns (nothing to adjust with)."""
    from collections import defaultdict
    from decimal import Decimal, ROUND_HALF_UP

    from meshinsights_data_pipeline_spark.operators.abtest import (
        cuped_adjusted_means,
    )

    data = [(f"e{e}", f"a{a}", float(y), float(x)) for e, a, y, x in rows]
    noisy = data + [
        ("e0", "a0", None, 1.0), ("e0", "a0", 1.0, float("nan")),
        (None, "a0", 1.0, 1.0), ("e0", None, 1.0, 1.0),
    ]
    df = spark.createDataFrame(noisy, "exp string, arm string, y double, x double")
    got = {
        (r.exp, r.arm): (r.n, r.mean_raw, r.mean_adj, r.theta,
                         r.var_reduction)
        for r in cuped_adjusted_means(df, "exp", "arm", "y", "x").collect()
    }

    q12 = Decimal("0.000000000001")
    q6 = Decimal("0.000001")

    def d12(v: float) -> Decimal:
        return Decimal(repr(v)).quantize(q12, rounding=ROUND_HALF_UP)

    def r6(v) -> float:
        if v is None:
            return None
        return float(Decimal(repr(v)).quantize(q6, rounding=ROUND_HALF_UP)) + 0.0

    by_e = defaultdict(list)
    for e, a, y, x in data:
        by_e[e].append((a, y, x))
    expect = {}
    for e, pts in by_e.items():
        py = min(y for _, y, _ in pts)
        px = min(x for _, _, x in pts)
        cells = defaultdict(lambda: [0, Decimal(0), Decimal(0), Decimal(0),
                                     Decimal(0), Decimal(0)])
        for a, y, x in pts:
            c = cells[a]
            c[0] += 1
            c[1] += d12(y - py)
            c[2] += d12(x - px)
            c[3] += d12((y - py) * (y - py))
            c[4] += d12((x - px) * (x - px))
            c[5] += d12((x - px) * (y - py))
        pn = float(sum(c[0] for c in cells.values()))
        psy = float(sum((c[1] for c in cells.values()), Decimal(0)))
        psx = float(sum((c[2] for c in cells.values()), Decimal(0)))
        psxx = float(sum((c[4] for c in cells.values()), Decimal(0)))
        psxy = float(sum((c[5] for c in cells.values()), Decimal(0)))
        pvar_x = psxx / pn - (psx / pn) * (psx / pn)
        theta = ((psxy / pn - (psx / pn) * (psy / pn)) / pvar_x
                 if pvar_x > 0 else None)
        xbar_pool = psx / pn
        for a, c in cells.items():
            n, sy, sx, syy, sxx, sxy = c
            nd = float(n)
            ybar = float(sy) / nd
            xbarm = float(sx) / nd
            mean_raw = py + ybar
            if theta is None:
                mean_adj = None
            else:
                mean_adj = mean_raw - theta * (xbarm - xbar_pool)
            var_y = ((float(syy) / nd - ybar * ybar) * (nd / (n - 1))
                     if n >= 2 else None)
            var_x = ((float(sxx) / nd - xbarm * xbarm) * (nd / (n - 1))
                     if n >= 2 else None)
            cov = ((float(sxy) / nd - xbarm * ybar) * (nd / (n - 1))
                   if n >= 2 else None)
            vr = None
            if var_y is not None and var_y > 0 and theta is not None:
                var_adj = var_y - 2.0 * theta * cov + theta * theta * var_x
                vr = 1.0 - var_adj / var_y
            expect[(e, a)] = (n, r6(mean_raw), r6(mean_adj), r6(theta),
                              r6(vr))
    assert got == expect, (data, got, expect)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1),       # group
                  st.integers(0, 6),       # x
                  st.integers(-5, 5)),     # y
        min_size=1, max_size=14,
    ),
)
@SLOW
def test_ols_fit_matches_python(spark, rows):
    """ols_fit is bit-identical to a python mirror of the same
    pivot-fold procedure: dx/dy DECIMAL(38,12) folds, products
    quantized DECIMAL(38,6) after one IEEE multiply, fixed-order
    slope/intercept/r2 algebra, HALF_UP round-6."""
    from decimal import ROUND_HALF_UP, Decimal

    from meshinsights_data_pipeline_spark.operators.trend import ols_fit

    data = [(f"g{g}", float(x), float(y)) for g, x, y in rows]
    noisy = data + [
        ("g0", float("nan"), 1.0), ("g0", 1.0, None), (None, 1.0, 1.0)
    ]
    df = spark.createDataFrame(noisy, "g string, x double, y double")
    got = {
        r.g: (r.n, r.slope, r.intercept, r.r2)
        for r in ols_fit(df, ["g"], "x", "y").collect()
    }

    q12 = Decimal("0.000000000001")
    q6 = Decimal("0.000001")

    def dq(v, q):
        return Decimal(repr(v)).quantize(q, rounding=ROUND_HALF_UP)

    def _r6(v):
        if v is None:
            return None
        return float(dq(v, q6)) + 0.0

    from collections import defaultdict

    by_g = defaultdict(list)
    for g, x, y in data:
        by_g[g].append((x, y))
    expect = {}
    for g, pts in by_g.items():
        n = len(pts)
        px = min(x for x, _ in pts)
        py = min(y for _, y in pts)
        sx = float(sum((dq(x - px, q12) for x, _ in pts), Decimal(0)))
        sy = float(sum((dq(y - py, q12) for _, y in pts), Decimal(0)))
        sxy = float(sum(
            (dq((x - px) * (y - py), q6) for x, y in pts), Decimal(0)))
        sxx = float(sum(
            (dq((x - px) * (x - px), q6) for x, _ in pts), Decimal(0)))
        syy = float(sum(
            (dq((y - py) * (y - py), q6) for _, y in pts), Decimal(0)))
        cov_n = sxy - sx * sy / float(n)
        varx_n = sxx - sx * sx / float(n)
        vary_n = syy - sy * sy / float(n)
        slope = cov_n / varx_n if n >= 2 and varx_n > 0 else None
        inter = (
            (py + sy / float(n)) - slope * (px + sx / float(n))
            if slope is not None else None
        )
        r2 = (
            (cov_n * cov_n) / (varx_n * vary_n)
            if slope is not None and vary_n > 0 else None
        )
        expect[g] = (n, _r6(slope), _r6(inter), _r6(r2))
    assert got == expect, (data, got, expect)


def _cells_py(data):
    """Python mirror of abtest._cell_moments (pivot = cell min,
    DECIMAL(38,12) folds of d and d*d)."""
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    q12 = Decimal("0.000000000001")

    def d12(v):
        return Decimal(repr(v)).quantize(q12, rounding=ROUND_HALF_UP)

    by_key = defaultdict(list)
    for *key, v in data:
        by_key[tuple(key)].append(v)
    out = {}
    for key, vals in by_key.items():
        p = min(vals)
        s = float(sum((d12(v - p) for v in vals), Decimal(0)))
        sq = float(sum((d12((v - p) * (v - p)) for v in vals), Decimal(0)))
        out[key] = (len(vals), p, s, sq)
    return out


def _mean_var_py(cell):
    n, p, s, sq = cell
    m = s / n
    mean = p + m
    var = (
        (sq / n - m * m) * (float(n) / (n - 1)) if n >= 2 else None
    )
    return mean, var


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1),      # arm: 0 control / 1 t1
                  st.integers(0, 1),      # period: 0 pre / 1 post
                  st.integers(-4, 4)),    # value
        min_size=1, max_size=16,
    ),
)
@SLOW
def test_diff_in_diff_matches_python(spark, rows):
    """diff_in_diff is bit-identical to a python mirror of the
    four-cell pivot-moment algebra (fixed IEEE operand order, z
    rounded once, significance on the rounded z)."""
    from decimal import ROUND_HALF_UP, Decimal

    from meshinsights_data_pipeline_spark.operators.abtest import (
        diff_in_diff,
    )

    data = [
        ("e", "control" if a == 0 else "t1",
         "pre" if pd == 0 else "post", float(v))
        for a, pd, v in rows
    ]
    df = spark.createDataFrame(
        data, "experiment string, arm string, period string, v double"
    )
    got = [
        (r.experiment, r.arm, r.n_c_pre, r.n_c_post, r.n_t_pre,
         r.n_t_post, r.did, r.se, r.z, r.significant, r.has_all_cells)
        for r in diff_in_diff(
            df, "experiment", "arm", "period", "v"
        ).collect()
    ]
    if not any(a == "t1" for _, a, _, _ in data):
        assert got == []
        return

    q6 = Decimal("0.000001")

    def _r6(v):
        if v is None:
            return None
        return float(
            Decimal(repr(v)).quantize(q6, rounding=ROUND_HALF_UP)
        ) + 0.0

    cells = _cells_py(
        [(arm, period, v) for _, arm, period, v in data]
    )
    tpre = cells.get(("t1", "pre"))
    tpost = cells.get(("t1", "post"))
    cpre = cells.get(("control", "pre"))
    cpost = cells.get(("control", "post"))
    has_all = all(c is not None for c in (tpre, tpost, cpre, cpost))
    did = se = z = None
    if has_all:
        m_tpre, v_tpre = _mean_var_py(tpre)
        m_tpost, v_tpost = _mean_var_py(tpost)
        m_cpre, v_cpre = _mean_var_py(cpre)
        m_cpost, v_cpost = _mean_var_py(cpost)
        did = (m_tpost - m_tpre) - (m_cpost - m_cpre)
        if None not in (v_tpre, v_tpost, v_cpre, v_cpost):
            import math

            se = math.sqrt(
                v_tpost / tpost[0] + v_tpre / tpre[0]
                + v_cpost / cpost[0] + v_cpre / cpre[0]
            )
            if se > 0:
                z = _r6(did / se)
    expect = [(
        "e", "t1",
        cpre[0] if cpre else None, cpost[0] if cpost else None,
        tpre[0] if tpre else None, tpost[0] if tpost else None,
        _r6(did), _r6(se), z,
        bool(z is not None and abs(z) > 1.959964), has_all,
    )]
    assert got == expect, (data, got, expect)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1), st.integers(-4, 4)),
        min_size=1, max_size=14,
    ),
)
@SLOW
def test_mde_estimate_matches_python(spark, rows):
    """mde_estimate is bit-identical to a python mirror: shared cell
    moments, z-literal sum, fixed-order IEEE mde algebra."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from meshinsights_data_pipeline_spark.operators.abtest import (
        MDE_Z_ALPHA,
        MDE_Z_POWER,
        mde_estimate,
    )

    data = [
        ("e", "control" if a == 0 else "t1", float(v)) for a, v in rows
    ]
    df = spark.createDataFrame(
        data, "experiment string, arm string, v double"
    )
    got = [
        (r.experiment, r.arm, r.n_control, r.n_arm, r.has_control,
         r.mean_control, r.mde_abs, r.mde_rel)
        for r in mde_estimate(df, "experiment", "arm", "v").collect()
    ]
    if not any(a == "t1" for _, a, _ in data):
        assert got == []
        return

    q6 = Decimal("0.000001")

    def _r6(v):
        if v is None:
            return None
        return float(
            Decimal(repr(v)).quantize(q6, rounding=ROUND_HALF_UP)
        ) + 0.0

    cells = _cells_py([(arm, v) for _, arm, v in data])
    a_cell = cells.get(("t1",))
    c_cell = cells.get(("control",))
    zsum = float(MDE_Z_ALPHA[0.05]) + float(MDE_Z_POWER[0.8])
    mean_c = mde = rel = None
    if c_cell is not None:
        m_c, v_c = _mean_var_py(c_cell)
        m_a, v_a = _mean_var_py(a_cell)
        mean_c = m_c
        if v_c is not None and v_a is not None:
            mde = zsum * math.sqrt(v_c / c_cell[0] + v_a / a_cell[0])
            if m_c != 0:
                rel = mde / m_c
    expect = [(
        "e", "t1",
        c_cell[0] if c_cell else None, a_cell[0],
        c_cell is not None, _r6(mean_c), _r6(mde), _r6(rel),
    )]
    assert got == expect, (data, got, expect)
