"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

North-star extension for 100 TB training-data pipelines. Everything here is
pure DataFrame algebra — hashes are md5-derived integers computed with
built-in functions, so the whole family is deterministic, codegen-eligible
and ORACLE-CHECKABLE (the same arithmetic is expressible in DuckDB SQL).

Scale design:
- exact_dedup: one hash-shuffle on the fingerprint. The canonical pattern
  at any scale; AQE handles skew (a viral duplicate cluster).
- minhash_lsh_candidates: the scale path for near-dup. Cost is
  O(docs x shingles) map-side + one shuffle on (band, signature); candidate
  pairs are generated only within buckets — never a full cross join. Banding
  (b bands x r rows) tunes the Jaccard threshold s ~ (1/b)^(1/r).
- ngram_jaccard_pairs: exact pairwise Jaccard via shingle-join; quadratic
  in the worst case — use on candidates from LSH at scale (the composed
  minhash_dedup_pairs does exactly that), standalone only for small corpora.
- simhash: 32-bit signature via per-bit majority vote over token hashes; a
  band join on signature bytes yields candidates with small Hamming radius.
- embedding near-dup: cosine over the embeddings table (see similarity.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.operators.barrier import materialize as _materialize
from meshinsights_data_pipeline_spark.operators.text import (
    fingerprint,
    normalized_text,
    word_shingles,
)

# 60-bit md5-prefix integer hash — identical arithmetic exists in DuckDB:
#   ('0x' || substring(md5(s),1,15))::BIGINT
def md5_int60(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


# MinHash parameters: h_i(x) = (a_i * (x mod P) + b_i) mod P over a 33-bit
# prime; a_i * x stays far below 2^63 so the arithmetic is exact in BIGINT
# in both engines.
MINHASH_PRIME = 4294967311
_A = [541, 1223, 1987, 2741, 3571, 4409, 5279, 6133, 7001, 7919, 8831, 9733, 10657, 11657, 12569, 13513]
_B = [179, 383, 613, 839, 1069, 1291, 1523, 1747, 1979, 2203, 2437, 2663, 2897, 3121, 3361, 3581]


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one representative (min id) per normalized-text fingerprint.

    Returns [id, fingerprint] of survivors. One shuffle on the fingerprint.
    """
    fp = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
    return (
        fp.groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "fp")
    )


def shingle_hashes(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word-n-gram shingles per doc as 60-bit hashes.

    Implementation note (r16 optimization round, guide §2.4): the n-grams
    come from ONE overlapping-match regex — a lookahead anchored at each
    token start captures the next ``n`` tokens — so the whole shingle set
    is built map-side in codegen with a single Generate. The previous
    posexplode + window-lead plan shuffled the full TOKEN stream by doc id
    (one Exchange + Sort + Window ahead of every minhash/Jaccard consumer);
    an earlier transform/sequence/slice attempt was interpreted
    higher-order-function work (~7 ms/doc). Both alternatives are strictly
    dominated: the regex form is map-side AND codegen. Equality proven
    in-session at sf0.1 (260,388 (id, shingle, h) rows, bit-identical
    xxhash64 fold) and re-proven by the oracle suite.

    The shingle SET per doc is identical to text.word_shingles: docs with
    fewer than n tokens (== no regex match) contribute the whole
    normalized text — which IS the space-joined token list — as their
    single shingle; the CASE branch is evaluated lazily so the common
    path pays one normalize + one extract per row.
    """
    pat = r"\b(?=(" + " ".join(["[a-z0-9]+"] * n) + r"))"
    norm = df.select(
        F.col(id_col), normalized_text(F.col(text_col)).alias("_norm")
    )
    arr = norm.select(
        F.col(id_col),
        F.col("_norm"),
        F.regexp_extract_all(F.col("_norm"), F.lit(pat), 1).alias("_arr"),
    )
    sh = arr.select(
        F.col(id_col),
        F.explode(
            F.when(F.size("_arr") > 0, F.col("_arr")).otherwise(
                F.array(F.col("_norm"))
            )
        ).alias("shingle"),
    ).distinct()
    return sh.withColumn("h", md5_int60(F.col("shingle")))


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 16
) -> DataFrame:
    """Per-doc MinHash signature: num_hashes columns mh_0..mh_{k-1}.

    One hash-aggregate per doc (all k minima computed in a single pass —
    map-side partials make this one shuffle of k longs per doc).
    """
    sh = shingle_hashes(df, id_col, text_col, n)
    x = F.col("h") % MINHASH_PRIME
    aggs = [
        F.min((F.lit(_A[i]) * x + F.lit(_B[i])) % MINHASH_PRIME).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _minhash_signatures_from_shingles(
    sh: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    x = F.col("h") % MINHASH_PRIME
    aggs = [
        F.min((F.lit(_A[i]) * x + F.lit(_B[i])) % MINHASH_PRIME).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Banded MinHash signature rows [id, band, sig] — the LSH bucketing
    frame every candidate-pair join (batch self-join, streaming
    ingest-vs-table join) buckets on. One grouped min-aggregate per doc,
    then a ``bands``-way explode; no joins, no corpus^2 term."""
    sh = shingles if shingles is not None else shingle_hashes(df, id_col, text_col, n)
    sig = _minhash_signatures_from_shingles(sh.select(id_col, "h"), id_col, num_hashes)
    rows_per_band = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("sig"),
        )
        for b in range(bands)
    ]
    return sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bs")).select(
        id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    shingles: DataFrame | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band signature.

    bands=4 over 16 hashes (r=4 rows/band) targets Jaccard ~ 0.7+.
    Returns [id_a, id_b] with id_a < id_b, distinct. The self-join happens
    per (band, signature) bucket — the only shuffle keys — so work scales
    with bucket sizes, not corpus^2.

    ``shingles`` lets composed callers share one shingle frame;
    ``materialize`` persists the banded frame so the self-join's two sides
    read it from cache instead of each replaying the signature pipeline
    (see operators.barrier.materialize).
    """
    banded = banded_signatures(
        df, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands, shingles=shingles
    )
    if materialize:
        banded = _materialize(banded)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.sig") == F.col("b.sig")))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def _capped_pair_counts(
    sh: DataFrame, id_col: str, max_doc_freq: int
) -> DataFrame:
    """Shared-shingle pair counts ``[id_a, id_b, inter]`` for the
    df-capped exact-overlap joins, computed in ONE pass over ``sh``
    (r16 optimization round): group the (id, h) rows by hash, keep
    groups of <= ``max_doc_freq`` ids, and emit every in-group (a < b)
    pair via two Generate nodes — the (i, id_a) posexplode and an
    explode of the sorted id array's strict tail.

    Row-for-row identical to the previous low-df self-join: a sorted
    group [x1 <= ... <= xk] yields each (a < b) combination once per
    duplicate occurrence (the a != b filter drops the degenerate
    equal-id pairs a self-join's ``<`` also dropped), and the df cap is
    the same COUNT(*)-per-hash rule. Cost: the shingle pipeline runs
    ONCE here instead of four times (the df aggregate, the semi-join
    probe, and both self-join sides each replayed it — Spark reuses
    nothing across a self-join fork), and the one exchange is the same
    hash-keyed shuffle the self-join needed anyway. Arrays are bounded
    by the cap, so there is no giant-row risk at any scale; the
    UNCAPPED exact join keeps the self-join shape (an unbounded
    collect_list would be the skew bomb the cap exists to prevent).
    """
    grouped = (
        sh.groupBy("h")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("_ids"))
        .filter(
            (F.size("_ids") >= 2) & (F.size("_ids") <= int(max_doc_freq))
        )
    )
    tails = grouped.select(
        F.posexplode("_ids").alias("_i", "id_a"), F.col("_ids")
    ).select(
        "id_a",
        F.explode(
            F.slice(F.col("_ids"), F.col("_i") + 2, F.size("_ids"))
        ).alias("id_b"),
    )
    return (
        tails.filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard >= threshold via shingle join.

    Returns [id_a, id_b, jaccard] (id_a < id_b). Intersection counts come
    from the shingle self-join; union sizes from per-doc shingle counts
    (|A|+|B|-|A∩B|). Quadratic in shared-shingle bucket sizes — compose
    with LSH at scale (:func:`minhash_dedup_pairs`), or cap the
    self-join with ``max_doc_freq`` like the overlap sibling: shingles
    in more than that many docs drop BEFORE the join while denominators
    keep the UNCAPPED sizes, so an undercounted intersection OVERcounts
    the union and every capped Jaccard is a lower bound on the true one
    — capping only removes pairs, never adds or inflates (same
    property-tested algebra as :func:`overlap_coefficient_pairs`).
    """
    sh = shingle_hashes(df, id_col, text_col, n).select(id_col, "h")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    if max_doc_freq is None:
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(b, F.col("a.h") == F.col("b.h"))
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        # single-pass group-pairs path (see _capped_pair_counts): the
        # shingle pipeline runs once, not four times.
        inter = _capped_pair_counts(sh, id_col, max_doc_freq)
    # sizes is one row per doc — corpus-sized, NOT a broadcast candidate at
    # scale; AQE converts to broadcast at runtime when it actually fits.
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def overlap_coefficient_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact pairwise shingle-set OVERLAP COEFFICIENT >= threshold:
    ``|S(A) ∩ S(B)| / min(|S(A)|, |S(B)|)`` — the containment-style
    near-dup detector. A short document quoted wholesale inside a long
    one has overlap ~1 but Jaccard ~|A|/|B| (diluted below any usable
    symmetric threshold), so this is the operator that catches
    quote-inclusion, boilerplate-wrapped reposts, and prompt/response
    supersets that :func:`ngram_jaccard_pairs` structurally misses.

    Returns ``[id_a, id_b, overlap]`` (id_a < id_b; overlap rounded to
    6dp and thresholded AFTER rounding so both engines decide borderline
    pairs identically). Same plan shape as the Jaccard sibling:
    intersection counts from the shingle hash self-join, sizes joined
    back (AQE broadcasts when they fit) — only the final formula
    differs (min instead of inclusion-exclusion union).

    ``max_doc_freq`` is the 100 TB scale lever: shingles appearing in
    more than that many documents are dropped BEFORE the self-join —
    a shingle in F docs contributes F(F-1)/2 candidate rows, so the
    self-join's cost is dominated by exactly the shingles that carry
    the least discrimination (boilerplate, stopword runs). The cap is
    SOUND in one direction by construction: denominators still use the
    UNCAPPED set sizes, so a capped score is a lower bound on the true
    overlap — capping can only drop pairs (those whose surviving shared
    shingles no longer clear the threshold; a pair vanishes entirely
    iff EVERY shared shingle is above the cap), never add or inflate
    one. Property-tested in tests/test_properties.py. Default ``None``
    keeps the exact uncapped semantics.

    Scale: quadratic in shared-shingle bucket sizes, like every exact
    set-overlap join — at 100 TB set ``max_doc_freq`` (df-capped shingle
    join) or pass ``candidates`` ([id_a, id_b], id_a < id_b) to verify
    ONLY an injected candidate-pair frame (the minhash_dedup_pairs
    verify phase with the overlap formula — exact scores, no self-join,
    no corpus^2 step); the two levers are mutually exclusive because
    the cap modifies the self-join the candidate path doesn't run.
    Note MinHash-LSH recalls JACCARD-similar pairs, so a containment
    candidate generator should bucket on the SMALLER doc's signature
    length or use the df-capped join.
    """
    sh = shingle_hashes(df, id_col, text_col, n).select(id_col, "h")
    if candidates is not None:
        if max_doc_freq is not None:
            raise ValueError(
                "max_doc_freq and candidates are mutually exclusive"
            )
        return _verified_pairs_from_candidates(
            sh, candidates, id_col, threshold, metric="overlap"
        )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    if max_doc_freq is None:
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(b, F.col("a.h") == F.col("b.h"))
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        # single-pass group-pairs path (see _capped_pair_counts)
        inter = _capped_pair_counts(sh, id_col, max_doc_freq)
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "overlap",
            F.round(F.col("inter") / F.least(F.col("sz_a"), F.col("sz_b")), 6),
        )
        .filter(F.col("overlap") >= threshold)
        .select("id_a", "id_b", "overlap")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The scale composition: LSH candidates -> exact Jaccard verification.

    Returns verified [id_a, id_b, jaccard]. This is the 100 TB near-dup
    path: the LSH bucket join bounds the pair space, and exact Jaccard is
    computed ONLY for candidate pairs — the shingle table is semi-joined to
    candidate doc ids first, and the intersection join is driven by the
    candidate-pair frame rather than a full shingle self-join. No step
    touches corpus^2.

    Barrier placement (measured steady-state on local[32] @ sf0.1, and the
    shape that bounds corpus scans at 100 TB): the SMALL derived frames are
    materialized — ``banded`` (docs x bands rows) and ``sh_c`` (shingles of
    candidate docs only) — because each feeds 2-3 join sides that Spark
    would otherwise recompute from the corpus (executed plan shows zero
    ReusedExchange across the diamond). The raw shingle frame itself is NOT
    persisted: it is corpus-sized, and caching it measured 2-8x SLOWER than
    recomputing (5.3s -> 11-42s) while the small-frame barriers measured
    faster (5.3s -> 3.9s). Net: two corpus scans total regardless of scale.
    """
    sh = shingle_hashes(df, id_col, text_col, n).select(id_col, "h")
    cands = minhash_lsh_candidates(
        df, id_col, text_col, n, shingles=sh, materialize=True
    )
    return _verified_pairs_from_candidates(sh, cands, id_col, threshold)


def _verified_pairs_from_candidates(
    sh: DataFrame,
    cands: DataFrame,
    id_col: str,
    threshold: float,
    metric: str = "jaccard",
) -> DataFrame:
    """Exact set-similarity verification of ``cands`` [id_a, id_b]
    against the shingle-hash frame ``sh`` [id, h] — the verify phase
    shared by the text path (minhash_dedup_pairs), the binary-payload
    path (multimodal.payload_neardup_pairs), and the containment path
    (overlap_coefficient_pairs with ``candidates=``). ``metric`` picks
    the score: ``jaccard`` = inter/union, ``overlap`` =
    inter/min(|A|,|B|); the output column is named after it.

    Measured negative results (r17, so later rounds do not retry):
    ``cands`` feeds two consumers (the roster below and the
    intersection join), so (a) a lazy localCheckpoint on it and (b) an
    explode-form single-scan roster were both A/B'd warm against this
    shape — (a) ran 0.7-1.2s SLOWER per x11 run at sf0.1 AND sf1
    (caching the pair RDD costs more than re-running the bucket join
    over the already-materialized banded blocks), (b) was a wash. The
    recompute-from-banded shape below is the measured optimum."""
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # Only candidate docs' shingles participate in the verify join; this
    # small frame feeds sizes + both intersection sides, so persist it.
    sh_c = _materialize(sh.join(cand_ids, id_col, "left_semi"))
    sizes = sh_c.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    sh_a = sh_c.select(F.col(id_col).alias("id_a"), F.col("h").alias("h_a"))
    sh_b = sh_c.select(F.col(id_col).alias("_id_b"), F.col("h").alias("h_b"))
    inter = (
        cands.join(sh_a, "id_a")
        .join(sh_b, (F.col("id_b") == F.col("_id_b")) & (F.col("h_a") == F.col("h_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    if metric == "jaccard":
        score = F.round(
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
        )
    elif metric == "overlap":
        score = F.round(
            F.col("inter") / F.least(F.col("sz_a"), F.col("sz_b")), 6
        )
    else:
        raise ValueError(f"unknown metric: {metric!r}")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(metric, score)
        .filter(F.col(metric) >= threshold)
        .select("id_a", "id_b", metric)
    )


def fuzzy_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n: int = 3,
) -> DataFrame:
    """Edit-distance near-dup: LSH candidates -> normalized Levenshtein
    similarity (1 - dist / max(len)), keep pairs >= threshold.

    The fuzzy-match surface (SURVEY phase 6; the reference ships rapidfuzz
    in its dependency set) built from Spark's JVM-side ``levenshtein`` —
    no Python in the loop. Same scale shape as minhash_dedup_pairs: the
    quadratic edit-distance work only runs on LSH candidate pairs, never on
    corpus^2. Returns [id_a, id_b, similarity].
    """
    cands = minhash_lsh_candidates(df, id_col, text_col, n, materialize=True)
    norm = df.select(F.col(id_col), normalized_text(F.col(text_col)).alias("nt"))
    na = norm.select(F.col(id_col).alias("id_a"), F.col("nt").alias("nt_a"))
    nb = norm.select(F.col(id_col).alias("id_b"), F.col("nt").alias("nt_b"))
    return (
        cands.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "similarity",
            F.round(
                1
                - F.levenshtein(F.col("nt_a"), F.col("nt_b"))
                / F.greatest(F.length("nt_a"), F.length("nt_b"), F.lit(1)),
                6,
            ),
        )
        .filter(F.col("similarity") >= threshold)
        .select("id_a", "id_b", "similarity")
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """Per-doc SimHash signature over word-token hashes.

    bit_b(doc) = 1 iff sum over tokens of (+1 if token_hash bit b else -1)
    > 0; signature = Σ bit_b << b. Built entirely from explode + groupBy —
    one shuffle of (doc, 1 row) after map-side partial aggregation of the
    per-bit vote sums.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.lower(F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9\s]", " ")), r"\s+")
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    hashed = toks.withColumn("h", md5_int60(F.col("tok")))
    # r16 optimization round: sum the BIT directly instead of a ±1 CASE
    # per (token, bit) — sum(±1) = 2*sum(bit) - n, so "votes > 0" is
    # exactly "2*sum(bit) > n" (bit-identical signatures, one fewer
    # conditional branch per token per bit in the map-side partials).
    # r17: both per-bit expression sets are built as SQL strings (one
    # F.expr each instead of ~5 py4j Column calls per bit — the RP-LSH
    # plan-build lesson); parsed trees identical, signatures unchanged.
    votes = [
        F.expr(f"sum(shiftright(h, {bit}) & 1) AS v_{bit}")
        for bit in range(bits)
    ]
    per_doc = hashed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"), *votes
    )
    sig_sql = " + ".join(
        f"(CASE WHEN 2 * v_{bit} > _n THEN {1 << bit}L ELSE 0L END)"
        for bit in range(bits)
    )
    return per_doc.select(
        F.col(id_col),
        F.expr(f"CAST(({sig_sql}) AS BIGINT)").alias("simhash"),
    )


def simhash_candidates(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32, bands: int = 4
) -> DataFrame:
    """Near-dup candidates: docs sharing any byte-band of their SimHash —
    guarantees recall for Hamming distance < bands. Same banding shuffle
    shape as MinHash LSH."""
    sig = simhash(df, id_col, text_col, bits)
    width = bits // bands
    mask = (1 << width) - 1
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("sig"),
        )
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bs")).select(
        id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.sig") == F.col("b.sig")))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def windowed_exact_dedup(
    df: DataFrame,
    id_col: str,
    key_cols: list[str],
    ts_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Exact dedup with a TIME HORIZON — keep the first occurrence of a
    key per fixed ``window_days`` window, re-allowing it in the next
    window (recrawl-after-N-days semantics: a page re-fetched a month
    later is a legitimate new observation; the same page fetched twice
    in one window is a duplicate). The batch twin of the watermarked
    streaming dedup in streaming/dedup.py — same horizon INTENT,
    deliberately different mechanics, so the shared contract is exactly:
    (a) both emit every key at least once, and (b) the key's FIRST
    occurrence survives in both (given in-event-time-order arrival).
    Beyond that they diverge by design: two occurrences straddling a
    fixed window boundary within the TTL yield TWO batch survivors but
    one streaming survivor, and streaming re-emission after a long gap
    additionally requires the WATERMARK to have passed the old state (a
    one-sided guarantee — ``dropDuplicatesWithinWatermark`` may drop
    duplicates farther apart than the delay if no intervening data
    advanced the watermark). ``tests/test_streaming.py::
    test_windowed_batch_vs_streaming_ttl_dedup`` pins both the shared
    contract and the divergences.

    Windows are FIXED calendar-epoch-aligned buckets
    (``epoch_days div window_days``), not sliding — deterministic,
    partition-free of any reference point, and identical in both
    engines (integer floor division of exact day counts). "First" =
    min ``ts``, tie-broken by min ``id_col``, so the survivor is a pure
    function of the data. Returns ``[*key_cols, window_id, id, ts]``
    (one survivor row per key per window it appears in).

    Scale shape: one map-side window-id projection + ONE shuffle on
    (key, window) with a min_by aggregate — exact_dedup's plan with a
    wider key; map-side combine keeps hot keys cheap.
    """
    win = F.floor(
        F.datediff(F.col(ts_col).cast("date"), F.lit("1970-01-01").cast("date"))
        / F.lit(int(window_days))
    ).cast("bigint")
    # Rows without a timestamp cannot be placed in any window — drop them
    # explicitly (a NULL ts would otherwise map to a NULL window_id
    # grouping all of a key's undated rows together, and NULL-first
    # struct-min vs the oracle's NULLS-LAST ordering would diverge).
    tagged = df.filter(F.col(ts_col).isNotNull()).select(
        *key_cols,
        win.alias("window_id"),
        F.col(id_col),
        F.col(ts_col),
    )
    return (
        tagged.groupBy(*key_cols, "window_id")
        .agg(
            F.min(F.struct(F.col(ts_col), F.col(id_col))).alias("_first")
        )
        .select(
            *key_cols,
            "window_id",
            F.col(f"_first.{id_col}").alias(id_col),
            F.col(f"_first.{ts_col}").alias(ts_col),
        )
    )
