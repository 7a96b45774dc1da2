"""Text-analysis operators for large-scale training-data pipelines.

North-star extension (BASELINE.json): language-ID, quality scoring, token
counting, document fingerprinting over the ``documents`` table. Every hot
path — the language profiler included — is pure built-in column
expressions (JVM-side, codegen-eligible); no Python appears in any plan.

Scale notes: every function here is a narrow per-row map — no shuffle at
all. At 100 TB these run at parquet-scan speed; the fingerprint/token
columns they emit are what the dedup operators shuffle on, so computing
them map-side first is the right staging.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny built-in stopword list for quality scoring (public-domain English core).
STOPWORDS = (
    "the a an and or of to in is are was were be been it this that for on with as at by from"
).split()


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def token_count(col: Column | str) -> Column:
    """Whitespace token count; empty/blank string -> 0."""
    c = F.trim(_c(col))
    return F.when(c == "", F.lit(0)).otherwise(F.size(F.split(c, r"\s+")))


#: Exactly the complement of the regex class [^A-Za-z0-9\s]: ASCII
#: alphanumerics plus Java's \s set [ \t\n\x0B\f\r] (ASCII-only by
#: default in java.util.regex). Enumerable, so `translate` — a char-table
#: lookup — can delete it instead of running a full-text regex.
_ALNUM_WS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    " \t\n\x0b\f\r"
)


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space.

    Counted by translate-deleting the (closed, ASCII) alphanumeric+
    whitespace set and measuring what remains — equivalence with the
    regexp_replace([^A-Za-z0-9\\s]) count is exact for every character
    (unicode punctuation survives the deletion and is counted, same as
    the regex class matches it). Measured 2.3s -> 0.16s for the signal
    pass over the 10x corpus: this was x08's dominant cost."""
    c = _c(col)
    n = F.length(c)
    punct = F.length(F.translate(c, _ALNUM_WS, ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct / n)


def stopword_ratio(col: Column | str) -> Column:
    """Fraction of whitespace tokens that are common English stopwords."""
    toks = F.split(F.lower(F.trim(_c(col))), r"\s+")
    stop = F.filter(toks, lambda t: t.isin(*STOPWORDS))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(F.size(stop) / F.size(toks))


def mean_word_length(col: Column | str) -> Column:
    toks = F.split(F.trim(_c(col)), r"\s+")
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(total.cast("double") / F.size(toks))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    reasonable stopword share + sane mean word length. Deterministic,
    SQL-expressible (oracle-checkable), monotone in each component."""
    n_tok = token_count(col)
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    stop = stopword_ratio(col)
    stop_score = F.when((stop >= 0.05) & (stop <= 0.6), F.lit(1.0)).otherwise(F.lit(0.5))
    mwl = mean_word_length(col)
    mwl_score = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.3))
    return F.round((len_score + punct_score + stop_score + mwl_score) / 4.0, 6)


def with_quality_score(
    df: DataFrame, text_col: str, out_col: str = "quality"
) -> DataFrame:
    """``df`` plus the composite quality column, staged so each
    expensive sub-expression (two splits, the stopword filter, the
    word-length fold, the punct translate) is computed ONCE per row
    (r16 optimization round). The scalar :func:`quality_score` builds
    the same value as one expression tree, but its components reference
    their splits 2-3 times each and codegen CSE does not deduplicate
    across when/HOF branches (the lang_id lesson) — the scalar form ran
    ~6 splits per row. Expressions, operand order and rounding are
    identical, so the column is bit-equal to ``quality_score(text_col)``
    (proven by the x50/x53/x55 oracles)."""
    c = _c(text_col)
    base_cols = list(df.columns)
    tmp = {}
    for piece in ("trim", "toks", "ltoks"):
        name = f"_qs_{piece}"
        while name in base_cols:
            name += "_"
        tmp[piece] = name
    trimmed = F.trim(c)
    s1 = df.select(
        "*",
        trimmed.alias(tmp["trim"]),
        F.split(trimmed, r"\s+").alias(tmp["toks"]),
        F.split(F.lower(trimmed), r"\s+").alias(tmp["ltoks"]),
    )
    toks, ltoks = F.col(tmp["toks"]), F.col(tmp["ltoks"])
    n_tok = F.when(F.col(tmp["trim"]) == "", F.lit(0)).otherwise(F.size(toks))
    n = F.length(c)
    punct = F.length(F.translate(c, _ALNUM_WS, ""))
    punct_r = F.when(n == 0, F.lit(0.0)).otherwise(punct / n)
    stop = F.filter(ltoks, lambda t: t.isin(*STOPWORDS))
    stop_r = F.when(F.size(ltoks) == 0, F.lit(0.0)).otherwise(
        F.size(stop) / F.size(ltoks)
    )
    mwl_total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    mwl = F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        mwl_total.cast("double") / F.size(toks)
    )
    piece_cols = {}
    for piece in ("ntok", "punct", "stop", "mwl"):
        name = f"_qs_{piece}"
        while name in base_cols:
            name += "_"
        piece_cols[piece] = name
    s2 = s1.select(
        *base_cols,
        n_tok.alias(piece_cols["ntok"]),
        punct_r.alias(piece_cols["punct"]),
        stop_r.alias(piece_cols["stop"]),
        mwl.alias(piece_cols["mwl"]),
    )
    len_score = F.least(F.col(piece_cols["ntok"]) / F.lit(50.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(
        F.col(piece_cols["punct"]) * 5.0, F.lit(1.0)
    )
    stop_c = F.col(piece_cols["stop"])
    stop_score = F.when(
        (stop_c >= 0.05) & (stop_c <= 0.6), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    mwl_c = F.col(piece_cols["mwl"])
    mwl_score = F.when(
        (mwl_c >= 2.0) & (mwl_c <= 12.0), F.lit(1.0)
    ).otherwise(F.lit(0.3))
    return s2.select(
        *base_cols,
        F.round(
            (len_score + punct_score + stop_score + mwl_score) / 4.0, 6
        ).alias(out_col),
    )


def text_stats_frame(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """[id, n_tokens, n_chars_m, punct_ratio, stopword_ratio, quality]
    — the x08 surface — computed with every expensive sub-expression
    staged ONCE (r16 optimization round).

    Composing the scalar helpers directly re-evaluates their shared
    pieces: ``quality_score`` re-embeds token_count + punct_ratio +
    stopword_ratio + mean_word_length, and ``stopword_ratio`` references
    its own split three times — the single projection ran ``split``
    ~8x and the stopword filter twice per row (no codegen CSE across
    when/HOF branches, the lang_id lesson). Here each split / ratio is
    its own staged column (CollapseProject keeps multiply-referenced
    non-cheap aliases), and the composite quality re-uses the staged
    ratios. Expressions, operand order and rounding are identical to
    the scalar helpers, so results are bit-equal (x08's oracle proves
    it)."""
    c = F.col(text_col)
    trimmed = F.trim(c)
    s1 = df.select(
        F.col(id_col),
        c.alias("_txt"),
        trimmed.alias("_trim"),
        F.split(trimmed, r"\s+").alias("_toks"),
        F.split(F.lower(trimmed), r"\s+").alias("_ltoks"),
    )
    n = F.length(F.col("_txt"))
    punct = F.length(F.translate(F.col("_txt"), _ALNUM_WS, ""))
    stop = F.filter(F.col("_ltoks"), lambda t: t.isin(*STOPWORDS))
    mwl_total = F.aggregate(
        F.col("_toks"), F.lit(0), lambda acc, t: acc + F.length(t)
    )
    s2 = s1.select(
        F.col(id_col),
        F.when(F.col("_trim") == "", F.lit(0))
        .otherwise(F.size("_toks"))
        .alias("n_tokens"),
        n.alias("n_chars_m"),
        F.when(n == 0, F.lit(0.0)).otherwise(punct / n).alias("_punct"),
        F.when(F.size("_toks") == 0, F.lit(0.0))
        .otherwise(F.size(stop) / F.size("_ltoks"))
        .alias("_stop"),
        F.when(F.size("_toks") == 0, F.lit(0.0))
        .otherwise(mwl_total.cast("double") / F.size("_toks"))
        .alias("_mwl"),
    )
    len_score = F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(F.col("_punct") * 5.0, F.lit(1.0))
    stop_score = F.when(
        (F.col("_stop") >= 0.05) & (F.col("_stop") <= 0.6), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    mwl_score = F.when(
        (F.col("_mwl") >= 2.0) & (F.col("_mwl") <= 12.0), F.lit(1.0)
    ).otherwise(F.lit(0.3))
    return s2.select(
        F.col(id_col),
        "n_tokens",
        "n_chars_m",
        F.round(F.col("_punct"), 6).alias("punct_ratio"),
        F.round(F.col("_stop"), 6).alias("stopword_ratio"),
        F.round(
            (len_score + punct_score + stop_score + mwl_score) / 4.0, 6
        ).alias("quality"),
    )


def normalized_text(col: Column | str) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace,
    strip punctuation."""
    # ONE regex pass, not two: every maximal run of non-[a-z0-9] chars
    # (punctuation and whitespace alike) becomes a single space — provably
    # identical to the [^a-z0-9\s]->" " then \s+->" " pair for any input
    # (each non-alphanumeric char is either whitespace, kept then
    # collapsed, or not, replaced then collapsed; either way a run folds
    # to one space). Full-text regex is the corpus pipeline's hottest
    # expression, so halving the passes is a measured win on every
    # operator built on this normalization.
    return F.trim(F.regexp_replace(F.lower(_c(col)), r"[^a-z0-9]+", " "))


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text — the exact-dedup
    key. (Shingle-level rolling hashes live in dedup.py for near-dup.)"""
    return F.md5(normalized_text(col))


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, top_k: int = 3
) -> DataFrame:
    """Top-``top_k`` characteristic terms per document by tf-idf.

    idf here is the RAW inverse document frequency ratio ``N / df`` (not
    ``ln(N/df)``): measured on this platform, Spark's ``Math.log`` and
    DuckDB/libm ``ln`` disagree in the final ulp on ~9% of inputs, which
    makes a log-weighted ranking non-reproducible across engines; every
    operation in the ratio form (int-count divisions, one multiply) is a
    single correctly-rounded IEEE op, so scores — and therefore the
    selected terms — are bit-identical anywhere. The classic log damping
    is a one-line swap where cross-engine reproducibility isn't a
    requirement; the RANKING it induces differs only in how strongly
    rare terms dominate.

    Returns [id, term, score, rk], ties broken term-ascending.
    Scale shape: explode -> per-(doc, term) count (map-side combinable)
    -> df per term (vocab-sized frame, broadcast back) -> one window per
    doc for the top-k. No corpus^2 term anywhere.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("term"),
    ).filter(F.col("term") != "")
    term_counts = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tc"))
    doc_lens = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    dfreq = term_counts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # N as a broadcast 1-row frame, not a plan-build-time collect: building
    # the query stays a pure lazy plan (no driver job before the action).
    n_docs = df.agg(F.countDistinct(id_col).alias("n"))
    scored = (
        term_counts.join(doc_lens, id_col)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.col("term"),
            F.round(
                (F.col("tc") / F.col("dl"))
                * (F.col("n").cast("double") / F.col("df")),
                6,
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select(F.col(id_col), "term", "score", F.col("rk").cast("bigint").alias("rk"))
    )


def _normalize_query_terms(query_terms: list[str]) -> list[str]:
    """Driver-side twin of :func:`normalized_text` for the (tiny) query
    bag: lowercase, split on non-alphanumeric runs, dedupe. Document
    tokens are matched in normalized form, so an un-normalized query
    term ('Vector', 'U.S.') would silently match nothing; normalizing
    here makes the operator total over raw user queries. A term that
    normalizes into several tokens ('U.S.' -> 'u', 's') contributes each
    token, matching what the same text would produce as a document."""
    import re

    out = set()
    for t in query_terms:
        out.update(w for w in re.sub(r"[^a-z0-9]+", " ", t.lower()).split())
    return sorted(out)


def _bm25_frames(
    df: DataFrame, id_col: str, text_col: str, query_terms: list[str]
) -> tuple[DataFrame, DataFrame]:
    """The two BM25 input frames from one tokenize chain: per-doc lengths
    ``[id, dl]`` over ALL docs (dl map-side from the token array — no
    all-token shuffle) and term frequencies ``[id, dl, term, tc]``
    restricted to the (normalized) query terms (only matching tokens
    enter the groupBy shuffle). Shared by the batch operator and the
    streaming twin so their scores are definitionally identical."""
    query_terms = _normalize_query_terms(query_terms)
    toks = F.filter(
        F.split(normalized_text(F.col(text_col)), " "), lambda t: t != ""
    )
    base = df.select(F.col(id_col), toks.alias("_toks")).select(
        F.col(id_col), F.size("_toks").alias("dl"), F.col("_toks")
    )
    tf = (
        base.select(F.col(id_col), "dl", F.explode("_toks").alias("term"))
        .filter(F.col("term").isin(list(query_terms)))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    return base.select(F.col(id_col), "dl"), tf


def _bm25_score(
    tf: DataFrame,
    dfreq: DataFrame,
    stats: DataFrame,
    id_col: str,
    k1: float,
    b: float,
    round_to: int = 6,
) -> DataFrame:
    """Per-doc BM25 scores ``[id, n_terms, score]`` from a term-frequency
    frame, a ``[term, df]`` table and a one-row ``[n, avgdl]`` stats
    frame (both broadcast). Association is mirrored token-for-token in
    the SQL oracle (X71_SQL); the per-doc sum over query terms folds
    through DECIMAL(38,18) so it is aggregation-order-independent."""
    idf = (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    tf_part = (F.col("tc") * F.lit(k1 + 1.0)) / (
        F.col("tc")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), (idf * tf_part).alias("w"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.round(
                F.sum(F.col("w").cast("decimal(38,18)")).cast("double"),
                round_to,
            ).alias("score"),
        )
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    top_k: int = 50,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``top_k`` documents by BM25 relevance to a bag of query terms
    (Robertson et al.; the retrieval primitive behind search-based
    decontamination and targeted quality selection in pretraining
    pipelines).

    Cross-engine determinism follows the x33 ratio-idf discipline: idf is
    the raw Robertson ratio ``(N - df + 0.5) / (df + 0.5)`` (no ln —
    Spark's Math.log and DuckDB's libm ln disagree in the final ulp on
    ~9% of inputs), so every per-term score is a chain of single
    correctly-rounded IEEE ops evaluated in the same association on both
    engines. The per-doc sum over query terms folds through
    DECIMAL(38,18) (order-independent) and rounds to 6dp; ranking is on
    the rounded score with an ``id_col`` tiebreak.

    Scale shape: document length is computed MAP-SIDE from the token
    array (no all-token shuffle — only tokens matching a query term ever
    enter a shuffle); df / N / avgdl live in broadcast one-row or
    |query|-row frames; the global top-k is the salted two-phase rank
    (global_rank.global_topk) — per-salt local top-k, then a window
    over the <= k x 16 survivors — so no corpus-sized frame crosses a
    single-partition window and the scored frame is evaluated exactly
    once. At 100 TB the dominant cost is the parquet scan plus a
    shuffle of |docs matching >=1 term| rows.
    """
    from meshinsights_data_pipeline_spark.operators.barrier import materialize
    from meshinsights_data_pipeline_spark.operators.global_rank import (
        global_topk,
    )

    dls, tf0 = _bm25_frames(df, id_col, text_col, query_terms)
    # N over ALL docs and total token mass; zero-token docs contribute dl=0.
    stats = dls.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tl")
    ).select("n", (F.col("tl").cast("double") / F.col("n")).alias("avgdl"))
    # tf feeds BOTH the df table and the scoring stream (a diamond): one
    # row per (matching doc, query term) — small relative to the token
    # stream behind it — so the documented materialize() case applies;
    # without it each broadcast build re-runs the corpus tokenize pass.
    tf = materialize(tf0)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = _bm25_score(tf, dfreq, stats, id_col, k1, b)

    ranked = global_topk(
        scored,
        [F.col("score").desc(), F.col(id_col).asc()],
        top_k,
        salt_col=F.col(id_col),
        out_col="rk",
    )
    return ranked.select(
        F.col(id_col), "n_terms", "score", F.col("rk").cast("bigint").alias("rk")
    ).orderBy("rk")


def html_to_text(col: Column | str) -> Column:
    """Visible text from raw HTML — the crawl-prep extraction step that
    runs before every text operator (quality, lang-id, dedup). Chained
    JVM-side regexp_replace, map-side codegen at 100 TB; patterns stay in
    the Java-regex/RE2 shared subset (no backreferences — script and
    style blocks are separate alternatives) so SQL oracles mirror them:

    1. drop <script>/<style> blocks wholesale (non-greedy, dotall),
    2. block-level closers (</p>, </div>, </li>, </h1..6>, <br>) -> space
       so words across block boundaries don't fuse,
    3. strip every remaining tag,
    4. decode the six ubiquitous entities (&nbsp; &amp; &lt; &gt;
       &quot; &#39;),
    5. collapse whitespace, trim.

    Deliberately NOT a full parser (no nesting, no CDATA, no numeric
    entity table): for corpus prep the contract is deterministic,
    engine-mirrorable extraction, not DOM fidelity — malformed markup
    degrades to extra whitespace, never to an exception.
    """
    s = F.regexp_replace(_c(col), r"(?is)<script\b[^>]*>.*?</script>", " ")
    s = F.regexp_replace(s, r"(?is)<style\b[^>]*>.*?</style>", " ")
    s = F.regexp_replace(s, r"(?i)<br\s*/?>|</p\s*>|</div\s*>|</li\s*>|</h[1-6]\s*>", " ")
    s = F.regexp_replace(s, r"<[^>]+>", " ")
    for ent, rep in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                     ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")):
        s = F.replace(s, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def html_title(col: Column | str) -> Column:
    """The <title> text (first match, entity-undecoded), empty string if
    absent — the cheap document label crawl pipelines index on."""
    return F.regexp_extract(_c(col), r"(?is)<title[^>]*>(.*?)</title>", 1)


# PII patterns kept to syntax shared by Java regex and RE2-style engines
# (character classes, bounded repetition) so SQL oracles can mirror them.
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
IPV4_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"
NUMRUN_RE = r"[0-9]{7,}"


def redact_pii(col: Column | str) -> Column:
    """Scrub emails, IPv4 addresses, and long digit runs (phone/account
    numbers) to typed placeholder tokens — the standard pre-training
    privacy pass. Order matters: IPs before bare digit runs, so an
    address is one <IP>, not octet fragments. Pure chained
    regexp_replace — map-side codegen at 100 TB."""
    c = F.regexp_replace(_c(col), EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, IPV4_RE, "<IP>")
    return F.regexp_replace(c, NUMRUN_RE, "<NUM>")


def pii_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc PII audit: [id, redacted, n_email, n_ip, n_num]. Counts are
    taken on the progressively redacted text the same way ``redact_pii``
    substitutes, so overlapping matches are attributed once."""
    emailed = F.regexp_replace(_c(text_col), EMAIL_RE, "<EMAIL>")
    iped = F.regexp_replace(emailed, IPV4_RE, "<IP>")
    return df.select(
        F.col(id_col),
        redact_pii(F.col(text_col)).alias("redacted"),
        F.regexp_count(_c(text_col), F.lit(EMAIL_RE)).cast("bigint").alias("n_email"),
        F.regexp_count(emailed, F.lit(IPV4_RE)).cast("bigint").alias("n_ip"),
        F.regexp_count(iped, F.lit(NUMRUN_RE)).cast("bigint").alias("n_num"),
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Array of word n-gram shingles of the normalized text; docs with fewer
    than n words yield a single shingle of the whole text."""
    toks = F.split(normalized_text(col), " ")
    k = F.size(toks) - (n - 1)
    return F.when(
        k <= 0, F.array(F.concat_ws(" ", toks))
    ).otherwise(
        F.transform(F.sequence(F.lit(1), k), lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


# High-frequency character trigrams per language (Cavnar-Trenkle shrunk to a
# fixed dictionary). CJK is detected by script range, not trigrams.
LANG_PROFILES = {
    "en": [" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing", "ng "],
    "de": ["en ", " de", "der", "er ", "ie ", " di", "die", "ch ", "sch", "ein"],
    "fr": [" de", "de ", " le", "le ", "es ", "ent", " la", "la ", "ion", "que"],
    "es": [" de", "de ", " la", "la ", "os ", " el", "el ", "ión", "ent", "que"],
}


def lang_id(df: DataFrame, text_col: str, out_col: str = "lang_pred") -> DataFrame:
    """Character n-gram language ID (trigram-profile heuristic).

    Pure built-in column expressions — the whole classifier is codegen-
    eligible JVM work, no Python in the plan. Non-overlapping trigram counts
    use the replace-count identity ``length(s) - length(replace(s, g))``
    (equal to ``3 * s.count(g)``; the constant factor cancels in every
    comparison, so scores are kept un-divided). Ties resolve to the
    lexicographically larger language code (fr > es > en > de), matching
    ``max(scores, key=lambda k: (scores[k], k))`` of the original profile
    model and the DuckDB oracle (plans/extension_queries.py X09_SQL).
    """
    c = _c(text_col)
    # The padded-lowercase string is materialized ONCE per row in its own
    # projection; inlining it into all 40 replace-count terms re-evaluates
    # concat+lower per term (measured 3.5x slower at sf0.1 — CollapseProject
    # keeps this projection because the expression is non-cheap and
    # multiply-referenced).
    tmp_col = "_lang_id_s"
    while tmp_col in df.columns:  # never clobber a user column of that name
        tmp_col += "_"
    staged = df.withColumn(tmp_col, F.concat(F.lit(" "), F.lower(c), F.lit(" ")))
    s = F.col(tmp_col)
    s_len = F.length(s)

    def score(grams: list[str]) -> Column:
        terms = [s_len - F.length(F.replace(s, F.lit(g))) for g in grams]
        total = terms[0]
        for t in terms[1:]:
            total = total + t
        return total

    # Each language score is materialized as its OWN staged column (r16
    # optimization round): the scores are referenced up to four times
    # downstream (three best_lang comparisons + greatest), and codegen
    # subexpression elimination does NOT deduplicate them across those
    # references — the 40 replace-count terms ran ~4x per row (measured
    # interleaved at sf0.1: 4.4-4.7s -> 1.8-2.2s warm, identical output).
    # Same CollapseProject reasoning as the padded-string staging above.
    sc_cols = {}
    for lang in LANG_PROFILES:
        col_name = f"_lang_sc_{lang}"
        while col_name in df.columns:
            col_name += "_"
        sc_cols[lang] = col_name
    staged = staged.withColumns(
        {sc_cols[lang]: score(grams) for lang, grams in LANG_PROFILES.items()}
    )
    sc = {lang: F.col(name) for lang, name in sc_cols.items()}
    # CJK short-circuit: >20% of the first 200 chars in the Han range.
    head = F.substring(c, 1, 200)
    han = F.length(F.regexp_replace(head, "[^一-鿿]", ""))
    best_lang = (
        F.when((sc["fr"] >= sc["es"]) & (sc["fr"] >= sc["en"]) & (sc["fr"] >= sc["de"]), F.lit("fr"))
        .when((sc["es"] >= sc["en"]) & (sc["es"] >= sc["de"]), F.lit("es"))
        .when(sc["en"] >= sc["de"], F.lit("en"))
        .otherwise(F.lit("de"))
    )
    best_score = F.greatest(*sc.values())
    pred = (
        F.when(c.isNull() | (c == ""), F.lit("und"))
        .when(han > F.length(head) * 0.2, F.lit("zh"))
        .when(best_score > 0, best_lang)
        .otherwise(F.lit("und"))
    )
    return staged.withColumn(out_col, pred).drop(tmp_col, *sc_cols.values())


def pmi_collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 5,
    top_k: int = 100,
    round_to: int = 6,
) -> DataFrame:
    """Top-``top_k`` adjacent-token collocations by pointwise mutual
    information — the phrase-mining pass a tokenizer/vocabulary pipeline
    runs to decide which word pairs deserve a merged unit ("new york",
    "machine learning"), and a corpus-health signal (template-heavy
    sources surface their boilerplate bigrams at the top).

    PMI over the BIGRAM table's own marginals: for bigram (a, b),
    ``pmi = ln(n_ab * N / (n_a· * n·_b))`` with N = total bigram
    occurrences, n_a· = bigrams with left token a, n·_b = bigrams with
    right token b. Using one table's marginals (rather than a separate
    unigram model) keeps every ratio a pure integer ratio. Bigrams with
    ``n_ab < min_count`` are dropped BEFORE ranking (PMI is
    rare-pair-biased; the count floor is the standard fix).

    Returns ``[a, b, n_ab, pmi]``, ordered pmi DESC then (a, b) for a
    deterministic cut. Cross-engine determinism: the x88 discipline —
    integer products fold through DECIMAL(38,0) (no BIGINT wrap), ONE
    double division, one ln, round to ``round_to``; ties at the cut
    break on the (a, b) strings identically in both engines.

    Scale shape: tokenization + bigram pairing are map-side (one window
    lead per doc — entity-keyed, O(tokens)); one hash aggregate to
    bigram counts; the two marginal tables derive from the SMALL bigram
    count table (|distinct bigrams| rows, not corpus tokens) and join
    back hash/broadcast. The global top-k cut is orderBy+limit —
    Spark's TakeOrdered, a per-partition heap + driver merge of k rows —
    NEVER a global row_number window (which would single-partition-sort
    every surviving bigram); the rank column is attached after the cut,
    over top_k rows.

    Measured note (r17): the count table feeds FOUR consumers (both
    marginals, the total, the scored join) and nothing is reused across
    the fork, so the map-side tokenize+count pipeline executes four
    times. A materialize barrier on the count table was A/B'd and ran
    SLOWER at sf0.1 AND sf1 (the persist+count job round-trip exceeds
    three codegen re-scans of the regexp stage); at a scale where the
    tokenize pass dominates, pass a pre-materialized count table to
    :func:`pmi_from_counts` directly — the streaming twin's path.
    """
    return pmi_from_counts(
        bigram_counts(df, id_col, text_col), min_count, top_k, round_to
    )


def bigram_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Adjacent-token bigram occurrence counts ``[a, b, n_ab]`` over the
    normalized text — the MERGEABLE sufficient statistic for PMI (counts
    sum across corpus slices), shared by :func:`pmi_collocations` and
    the streaming twin so their scores are definitionally identical."""
    # r16 optimization round (guide §2.4): adjacent pairs via ONE
    # overlapping-match regex (lookahead anchored at each token start
    # capturing "tok tok+1") — map-side in codegen, so the only shuffle
    # left is the (a, b) count aggregate with map-side partials. The
    # previous posexplode + window-lead plan shuffled the full token
    # stream by doc id first (the id column's only role here was that
    # window key). Same rewrite + bit-equality proof discipline as
    # dedup.shingle_hashes; empty/one-token docs yield no match, exactly
    # like the old b-isNotNull filter.
    _ = id_col  # kept for API stability; the pairing is doc-local either way
    pat = r"\b(?=([a-z0-9]+ [a-z0-9]+))"
    bg = df.select(
        F.explode(
            F.regexp_extract_all(
                normalized_text(F.col(text_col)), F.lit(pat), 1
            )
        ).alias("bg")
    )
    return (
        bg.select(
            F.substring_index("bg", " ", 1).alias("a"),
            F.substring_index("bg", " ", -1).alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )


def pmi_from_counts(
    bigrams: DataFrame,
    min_count: int = 5,
    top_k: int = 100,
    round_to: int = 6,
) -> DataFrame:
    """:func:`pmi_collocations`'s scoring half over a prebuilt
    ``[a, b, n_ab]`` count table (see there for semantics and the
    determinism/scale contract). Marginals and the total derive from
    the count table itself, so any mergeable source of counts — batch
    or accumulated streaming state — yields batch-identical scores."""
    from pyspark.sql import Window

    left = bigrams.groupBy("a").agg(F.sum("n_ab").alias("n_a"))
    right = bigrams.groupBy("b").agg(F.sum("n_ab").alias("n_b"))
    total = bigrams.agg(F.sum("n_ab").alias("n_tot"))
    num = F.expr("CAST(CAST(n_ab AS DECIMAL(38,0)) * n_tot AS DECIMAL(38,0))")
    den = F.expr("CAST(CAST(n_a AS DECIMAL(38,0)) * n_b AS DECIMAL(38,0))")
    scored = (
        bigrams.filter(F.col("n_ab") >= int(min_count))
        .join(left, "a")
        .join(right, "b")
        .crossJoin(F.broadcast(total))
        .select(
            "a",
            "b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.round(
                F.log(num.cast("double") / den.cast("double")), round_to
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(
        F.col("pmi").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(int(top_k))
    rk = F.row_number().over(
        Window.orderBy(F.col("pmi").desc(), F.col("a").asc(), F.col("b").asc())
    )
    return top.select(
        "a", "b", "n_ab", "pmi", rk.cast("bigint").alias("rk")
    )
