"""Similarity search over embedding columns (array<float>).

North-star extension: the full ANN strategy family, each fully
oracle-checked —
- cosine_topk: exact baseline. Queries broadcast, the corpus never
  shuffles; per-row dot products all JVM-side. Cost O(|Q| x N x d).
- rp_lsh_topk / embedding_neardup_pairs_lsh: random-hyperplane signatures
  bucket the corpus (single- and multi-table); only bucket-mates are
  scored. Recall tunes with bits/tables.
- ivf_topk: centroid-partitioned inverted lists probed nprobe-deep — the
  write-time partition-pruning layout; cost O(|Q| x N x nprobe/lists).
- pq_encode / pq_topk: product quantization with asymmetric distance —
  the memory-compressed path (corpus state ~dim/m/4 of raw vectors;
  distance = m table lookups).
At 1000 executors the bucketed/list variants replace the full scan per
query with bucket-local work — the standard billion-scale ANN layouts.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from itertools import count

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.operators.barrier import materialize as _materialize


def _dot_d(a: Column, b: Column) -> Column:
    """Sequential dot product over ALREADY-double arrays (no per-element
    cast; left fold — deterministic, bit-identical to DuckDB's list
    arithmetic on DOUBLE[]), used on pre-cast pair sides."""
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def _prep(df: DataFrame, id_col: str, vec_col: str, prefix: str, dim: int | None = None) -> DataFrame:
    """Pair-side preparation computed ONCE PER ROW (map-side) instead of
    once per pair: cast the vector to double[] and materialize its norm.
    The per-pair expression then reduces to a single dot + one divide —
    bit-identical results (same operations, same order, just hoisted)."""
    return df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(f"{prefix}_vec"),
        _norm(F.col(vec_col)).alias(f"{prefix}_norm"),
    )


def _two_phase_rank(
    scored: DataFrame,
    part_col: str,
    order: list[Column],
    salt_col: Column,
    k: int,
    salt_buckets: int = 16,
) -> DataFrame:
    """Keep the top ``k`` rows per ``part_col`` under the total order
    ``order``, emitting ``rank`` (1-based). Bit-identical to a single
    ``row_number`` window, but skew-proof: a plain per-query window sends
    EVERY scored corpus row for one query into one task — with a small
    query set at 100 TB each window task sorts ~the whole corpus. Top-k is
    decomposable, so phase 1 takes a local top-k per (query, salt) — salt
    from a hash of the neighbor id, spreading each query over
    ``salt_buckets`` tasks — and phase 2 ranks the <= k x salt_buckets
    per-query survivors. Same two-phase idiom as
    operators.corpus.quota_sample (x24), which the x24 oracle proves
    bit-identical to the unsalted window."""
    if salt_buckets and salt_buckets > 1:
        local_w = Window.partitionBy(part_col, "_salt").orderBy(*order)
        scored = (
            scored.withColumn(
                "_salt", F.pmod(F.xxhash64(salt_col), F.lit(salt_buckets))
            )
            .withColumn("_lrk", F.row_number().over(local_w))
            .filter(F.col("_lrk") <= k)
            .drop("_salt", "_lrk")
        )
    w = Window.partitionBy(part_col).orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _pair_dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """The pair-scoring dot. Measured on local[32] @ sf0.1: the HOF fold
    over pre-cast double arrays BEATS a fully unrolled getItem expression
    ~3x (the 64-term tree blows past codegen method limits and getItem
    re-checks bounds per access), so the fold is the hot path on purpose.
    ``dim`` is accepted for API stability; results are identical either way."""
    return _dot_d(a, b)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_scores: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns [query_id, neighbor_id, score, rank]; self-matches excluded.
    Scores are rounded before ranking so the ordering is reproducible across
    engines/summation orders; ties break on neighbor id.
    """
    q = _prep(queries, id_col, vec_col, "q", dim).withColumnRenamed("q_id", "query_id")
    c = _prep(corpus, id_col, vec_col, "c", dim).withColumnRenamed("c_id", "neighbor_id")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score",
            F.round(
                _pair_dot(F.col("q_vec"), F.col("c_vec"), dim)
                / (F.col("q_norm") * F.col("c_norm")),
                round_scores,
            ),
        )
    )
    return _two_phase_rank(
        scored,
        "query_id",
        [F.col("score").desc(), F.col("neighbor_id").asc()],
        F.col("neighbor_id"),
        k,
    ).select("query_id", "neighbor_id", "score", "rank")


def sq_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
) -> DataFrame:
    """Scalar (int8-style) quantization per vector — the cheapest ANN
    compression tier (4x over float32 at ``levels=127``), completing the
    family next to RP-LSH (bucketing), IVF (partitioning) and PQ
    (codebooks). Per vector: ``scale = max|v_i| / levels``, ``q_i =
    floor(v_i / scale + 0.5)`` — floor-plus-half instead of ROUND because
    it is tie-free and therefore bit-identical across engines. Returns
    ``[id, sq_scale, sq_q (array<bigint> in [-levels, levels]),
    sq_norm = sqrt(q·q)]``; a zero vector quantizes to all-zero with
    scale/norm 0. Map-side only: one scan, no shuffle; the quantized
    corpus is what a 100 TB deployment would persist and scan instead of
    the float vectors."""
    # Staged projections (r16 optimization round; the lang_id CollapseProject
    # idiom): the original single-projection form embedded ``scale`` — which
    # itself contains a full array_max(transform(...)) scan — INSIDE the
    # per-element quantization lambda, and embedded the whole ``q``
    # expression again inside ``sq_norm``'s fold. Higher-order-function
    # lambdas are interpreted (no codegen CSE), so every element access
    # re-ran the array scan: O(dim^2) per row, measured 1.4-1.5s for the
    # 2000-row sf0.1 noop (~5x the staged form) plus second-scale analyzed
    # plans. Each stage below aliases a multiply-referenced non-cheap
    # expression, which CollapseProject keeps as its own projection, so
    # scale / q / norm are each computed ONCE per row. Arithmetic, order
    # of operations and results are bit-identical.
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = df.select(F.col(id_col), v.alias("_sqv"))
    scale = F.array_max(F.transform(F.col("_sqv"), lambda x: F.abs(x))) / F.lit(
        float(levels)
    )
    staged = staged.select(F.col(id_col), "_sqv", scale.alias("_sqscale"))
    q = F.when(
        F.col("_sqscale") > 0,
        F.transform(
            F.col("_sqv"),
            lambda x: F.floor(x / F.col("_sqscale") + F.lit(0.5)).cast("bigint"),
        ),
    ).otherwise(F.transform(F.col("_sqv"), lambda x: F.lit(0).cast("bigint")))
    staged = staged.select(
        F.col(id_col), F.col("_sqscale").alias("sq_scale"), q.alias("sq_q")
    )
    qnorm = F.sqrt(
        F.aggregate(
            F.col("sq_q"),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x * x,
        ).cast("double")
    )
    return staged.select(
        F.col(id_col), "sq_scale", "sq_q", qnorm.alias("sq_norm")
    )


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    levels: int = 127,
    round_scores: int = 6,
) -> DataFrame:
    """Approximate top-k cosine neighbors over scalar-quantized vectors.

    Scores the QUANTIZED cosine ``(qa·qb) / (|qa| |qb|)`` — the per-vector
    scales cancel out of the ratio, so the hot path is an exact BIGINT
    dot product (order-independent, no float summation to keep in sync
    across engines) followed by two correctly-rounded IEEE ops. Returns
    [query_id, neighbor_id, score, rank]; self-matches and zero vectors
    excluded; ties break on neighbor id. Same skew-proof two-phase rank
    as :func:`cosine_topk`; the query side broadcasts (bounded by
    contract)."""
    c = (
        sq_quantize(corpus, id_col, vec_col, levels)
        .withColumnRenamed(id_col, "neighbor_id")
        .filter(F.col("sq_norm") > 0)
        .select("neighbor_id", F.col("sq_q").alias("c_q"), F.col("sq_norm").alias("c_n"))
    )
    q = (
        sq_quantize(queries, id_col, vec_col, levels)
        .withColumnRenamed(id_col, "query_id")
        .filter(F.col("sq_norm") > 0)
        .select("query_id", F.col("sq_q").alias("q_q"), F.col("sq_norm").alias("q_n"))
    )
    dot = F.aggregate(
        F.zip_with(F.col("q_q"), F.col("c_q"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score",
            F.round(
                dot.cast("double") / (F.col("q_n") * F.col("c_n")),
                round_scores,
            ),
        )
    )
    return _two_phase_rank(
        scored,
        "query_id",
        [F.col("score").desc(), F.col("neighbor_id").asc()],
        F.col("neighbor_id"),
        k,
    ).select("query_id", "neighbor_id", "score", "rank")


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    round_scores: int = 6,
    dim: int | None = None,
    max_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (score >= threshold, id_a<id_b).

    Exact all-pairs — a small-N verifier / recall oracle ONLY. The default
    scale path is :func:`embedding_neardup_pairs_lsh`, which scores only
    bucket-colliding pairs.

    ``max_rows`` makes the small-N precondition ENFORCED rather than
    advisory (r17, VERDICT r16 item 7): when set, a cheap count of
    ``df`` runs first and the call raises if the corpus exceeds it —
    failing in O(N) before the N^2 join can start. The default ``None``
    keeps the declared verifier queries' plans and timings unchanged;
    production callers at unbounded scale should pass a cap (the count
    is one column-pruned scan, trivially cheap next to any N^2 it
    permits)."""
    if max_rows is not None:
        n = df.count()
        if n > int(max_rows):
            raise ValueError(
                f"embedding_neardup_pairs is an exact all-pairs (N^2) "
                f"verifier: input has {n} rows > max_rows={max_rows}; "
                "use embedding_neardup_pairs_lsh for corpora this size"
            )
    a = _prep(df, id_col, vec_col, "a", dim).withColumnRenamed("a_id", "id_a")
    b = _prep(df, id_col, vec_col, "b", dim).withColumnRenamed("b_id", "id_b")
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "score",
            F.round(
                _pair_dot(F.col("a_vec"), F.col("b_vec"), dim)
                / (F.col("a_norm") * F.col("b_norm")),
                round_scores,
            ),
        )
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bits: int = 4,
    tables: int = 2,
    seed: int = 7,
    dim: int | None = None,
    round_scores: int = 6,
    target_bucket_rows: int | None = None,
    max_auto_bits: int = 16,
) -> DataFrame:
    """Scale-safe near-dup: score only pairs colliding in >=1 LSH table.

    Multi-table random-hyperplane LSH: each of ``tables`` independent
    signatures buckets the corpus; candidate pairs are generated per
    (table, bucket) — never all-pairs — then deduped and exactly scored.
    Recall tunes with tables up / bits down; the shuffle key is (table,
    bucket), so work scales with bucket occupancy, not corpus^2. This is
    the default 100 TB near-dup path; the exact cross join above is the
    small-N verifier.

    FIXED ``bits`` is quadratic in N: expected occupancy is N/2^bits, so
    candidate pairs grow ~N^2/2^bits as the corpus grows (measured: the
    sf0.1->sf1 bench ratio was 16.9x for 10x data at bits=4).
    ``target_bucket_rows`` is the scale knob: bits is raised to
    ceil(log2(N / target)) — constant expected occupancy, candidate
    pairs ~N x target (linear; measured 1.2x warm for the same 10x
    step that the fixed-bits path took at 16.9x). Costs one ``count()``
    of the input (a documented driver-side gating scalar, the
    IVF-probe-ids discipline).
    Recall at higher bits is restored by raising ``tables`` — the
    signature prefix property (LCG planes extend deterministically)
    means every pair surviving the higher-bits table also collides in
    its lower-bits prefix, so auto-bits output is a SUBSET of the
    fixed-bits output at the same seed (property-tested)."""
    if target_bucket_rows is not None:
        n = df.count()
        if n > target_bucket_rows:
            # smallest b with 2^b >= ceil(n / target): pure-integer
            # derivation (== ceil(log2(n/target)) in exact math, but with
            # no float-log edge cases), so the DuckDB oracle can mirror
            # it digit-for-digit (x12's params CTE). ``max_auto_bits``
            # mirrors the oracle's unroll cap (its CASE ladder falls
            # through to max_bits) — without it the two engines would
            # derive DIFFERENT bucket widths for corpora beyond
            # target * 2^max_bits and the candidate sets could diverge.
            need = -(-n // target_bucket_rows)
            bits = max(bits, min((need - 1).bit_length(), max_auto_bits))
    banded = None
    for t in range(tables):
        bt = rp_lsh_buckets(df, id_col, vec_col, bits, seed + t, dim).select(
            F.col(id_col), F.lit(t).alias("tbl"), F.col("bucket")
        )
        banded = bt if banded is None else banded.union(bt)
    # The banded frame feeds both sides of the bucket self-join; without a
    # barrier the tables x bits signature expressions run twice per row
    # (see operators.barrier.materialize).
    banded = _materialize(banded)
    a = banded.select(F.col(id_col).alias("id_a"), "tbl", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "tbl", "bucket")
    cands = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = _prep(df, id_col, vec_col, "a", dim).withColumnRenamed("a_id", "id_a")
    vb = _prep(df, id_col, vec_col, "b", dim).withColumnRenamed("b_id", "id_b")
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "score",
            F.round(
                _pair_dot(F.col("a_vec"), F.col("b_vec"), dim)
                / (F.col("a_norm") * F.col("b_norm")),
                round_scores,
            ),
        )
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its best centroid.

    ``centroids`` is a small frame [centroid_id, centroid_vec] (broadcast).
    Assignment = argmax cosine, ties to the lowest centroid id. Map-side
    except the broadcast — the list id is the partition-pruning key for IVF
    search, the same role the LSH bucket plays in rp_lsh_topk.
    """
    c = centroids.select(
        F.col("centroid_id"),
        F.transform(F.col("centroid_vec"), lambda x: x.cast("double")).alias("cv"),
        _norm(F.col("centroid_vec")).alias("cn"),
    )
    v = _prep(df, id_col, vec_col, "v")
    scored = v.crossJoin(F.broadcast(c)).withColumn(
        "cscore",
        F.round(_dot_d(F.col("v_vec"), F.col("cv")) / (F.col("v_norm") * F.col("cn")), 6),
    )
    w = Window.partitionBy("v_id").orderBy(F.col("cscore").desc(), F.col("centroid_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("v_id").alias(id_col), F.col("centroid_id").alias("list_id"))
    )


def kmeans_update(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd iteration for the IVF/SemDeDup centroid set: assign every
    vector to its nearest centroid (cosine argmax via :func:`ivf_assign`,
    ties to the lowest centroid id), then re-estimate each centroid as the
    element-wise mean of its members. Returns [centroid_id, centroid_vec
    array<double>]; a centroid whose cluster is empty keeps its previous
    vector (standard Lloyd fallback), cast to double. Call repeatedly to
    train the codebook the fixed-centroid operators (ivf_topk,
    semantic_dedup_pairs, pq via codebooks) consume; means are NOT
    re-normalized (plain Lloyd — renormalize downstream for spherical
    k-means semantics if cosine assignment is kept).

    Shuffle shape at 100 TB: corpus scanned once; posexplode to
    (list_id, dim, value) rows feeding ONE map-side-combinable avg
    (output is |centroids| x dim rows — tiny), then a groupBy centroid to
    re-assemble ordered arrays. No all-pairs term anywhere; the centroid
    table is dim-table-sized on both ends.
    """
    assigned = ivf_assign(df, centroids, id_col, vec_col)
    exploded = (
        df.join(assigned, id_col)
        .select("list_id", F.posexplode(F.col(vec_col)).alias("pos", "val"))
    )
    # DECIMAL-exact sum / count instead of a DOUBLE avg: the fold order
    # over a list's members varies with partial-aggregate merge order,
    # and the centroid means feed ROUND(.,6) compares (x41 oracle)
    means = exploded.groupBy("list_id", "pos").agg(
        (
            F.sum(F.col("val").cast("double").cast("decimal(38,18)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    new_c = (
        means.groupBy("list_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col("list_id").alias("centroid_id"),
            F.transform(F.col("pm"), lambda s: s["m"]).alias("_new_vec"),
        )
    )
    old = centroids.select(
        "centroid_id",
        F.transform(F.col("centroid_vec"), lambda x: x.cast("double")).alias("_old_vec"),
    )
    return old.join(new_c, "centroid_id", "left").select(
        "centroid_id",
        F.coalesce(F.col("_new_vec"), F.col("_old_vec")).alias("centroid_vec"),
    )


def kmeans_fit(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
    tol: float = 1e-6,
) -> DataFrame:
    """Train a centroid set by iterating :func:`kmeans_update` to
    convergence — the codebook producer for the fixed-centroid operators
    (ivf_topk / write_ivf_index, semantic_dedup_pairs; swap into pq via
    ``_deterministic_codebooks``'s replacement point).

    Init is deterministic (the ``k`` lowest-id vectors — the same
    convention the x15/x38 oracles pin), so the whole fit is a pure
    function of the input. Stops when the max absolute per-dimension
    centroid movement is <= ``tol`` or after ``max_iter`` rounds (Lloyd
    monotonically decreases distortion, so stopping early yields a valid,
    just coarser, codebook — no failure mode to raise on).

    Loop shape: each round is one corpus scan + the tiny centroid
    re-estimation (see kmeans_update); the centroid frame is
    localCheckpointed per round (|k| x dim rows) so lineage stays flat,
    and the convergence check is a |k|-row collect — a gating scalar, the
    same deliberate job boundary as components' convergence count.
    """
    centroids = (
        df.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "centroid_vec"
            ),
        )
        .localCheckpoint()
    )
    for _ in range(max_iter):
        new_c = kmeans_update(df, centroids, id_col, vec_col).localCheckpoint()
        shift = (
            centroids.select("centroid_id", F.col("centroid_vec").alias("_o"))
            .join(new_c, "centroid_id")
            .select(
                F.array_max(
                    F.zip_with(
                        F.col("_o"), F.col("centroid_vec"), lambda a, b: F.abs(a - b)
                    )
                ).alias("_d")
            )
            .agg(F.max("_d").alias("_m"))
            .first()["_m"]
        )
        centroids = new_c
        if shift is not None and shift <= tol:
            break
    return centroids


def semantic_dedup_pairs(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    round_scores: int = 6,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: cluster the embeddings
    to their nearest centroid (:func:`ivf_assign`), then score cosine only
    WITHIN each cluster (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication",
    arXiv:2303.09540 — cluster first, compare within clusters).

    Returns [list_id, id_a, id_b, score] with id_a < id_b and
    score >= threshold.

    100 TB shape: the corpus never self-joins globally — the pair space is
    partitioned by cluster, so the comparison cost is sum_c |c|^2 with
    each cluster an independent shuffle partition (vs n^2 for the exact
    verifier ``embedding_neardup_pairs``); centroids are a broadcast dim
    table and assignment is map-side. The known failure mode is a skewed
    (huge) cluster whose |c|^2 pair space lands in a handful of tasks:
    ``max_cluster_size`` caps it by deterministically sharding any cluster
    of n rows into ceil(n / max_cluster_size) shards on
    ``md5_int60(id) %% n_shards`` (a HASH of the id — see the inline
    comment for why raw id-modulo is wrong)
    and pairing only WITHIN a shard — the paper's fixed-size cluster
    shards (Abbas et al. §3: dedup within shards of a cluster). The
    explicit recall trade: a pair split across shards of the same cluster
    is not compared, exactly as a pair split across clusters already
    isn't. ``None`` (default) keeps whole-cluster pairing; AQE skew-join
    splitting still helps moderate skew there.

    Recall trade vs :func:`embedding_neardup_pairs_lsh`: a near-dup pair
    split across a centroid boundary is missed — acceptable for SemDeDup
    semantics ("duplicates within a semantic cluster"), not for strict
    near-dup recall; pick the RP-LSH path when recall across the whole
    space matters.
    """
    assigned = ivf_assign(df, centroids, id_col, vec_col)
    # Materialized ONCE: both self-join sides consume [id, vec, norm,
    # list_id]; left lazy, each side recomputes the centroid crossJoin +
    # assignment window. Measured at sf0.1/local[32]: 2.4s lazy vs 1.1s
    # checkpointed, warm. At real scale, write this frame to storage
    # instead (it is corpus-sized) — the shape (one assignment pass, two
    # readers) is what matters.
    vec = _prep(df, id_col, vec_col, "v").join(
        assigned.select(F.col(id_col).alias("v_id"), "list_id"), "v_id"
    ).localCheckpoint()
    pair_keys = ["list_id"]
    if max_cluster_size:
        # Per-cluster shard count from the checkpointed assignment (one
        # cluster-cardinality agg, broadcast back): cluster of n rows ->
        # ceil(n / max_cluster_size) shards, row -> shard
        # md5_int60(id) % n_shards. The shard key is a HASH of the id,
        # not the raw id: `id % n_shards` would (a) be NULL for
        # non-numeric ids (NULL join keys match nothing -> silently zero
        # pairs), (b) guarantee consecutively-ingested ids land in
        # different shards — systematically dropping the most common
        # near-dup pattern instead of the ~1/s a uniform salt costs —
        # and (c) collapse residue-clustered ids into one shard,
        # defeating the cap. md5 over the id-as-string is deterministic
        # and mirrored exactly by the DuckDB oracle (same hash the dedup
        # family shares, operators/dedup.md5_int60).
        from meshinsights_data_pipeline_spark.operators.dedup import md5_int60

        shards = vec.groupBy("list_id").agg(
            F.ceil(F.count(F.lit(1)) / F.lit(max_cluster_size))
            .cast("bigint")
            .alias("_nsh")
        )
        vec = vec.join(F.broadcast(shards), "list_id").withColumn(
            "_shard",
            F.pmod(md5_int60(F.col("v_id").cast("string")), F.col("_nsh")).cast(
                "bigint"
            ),
        )
        pair_keys = ["list_id", "_shard"]
    a = vec.select(
        F.col("v_id").alias("id_a"),
        F.col("v_vec").alias("a_vec"),
        F.col("v_norm").alias("a_norm"),
        *pair_keys,
    )
    b = vec.select(
        F.col("v_id").alias("id_b"),
        F.col("v_vec").alias("b_vec"),
        F.col("v_norm").alias("b_norm"),
        *pair_keys,
    )
    return (
        a.join(b, pair_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "score",
            F.round(
                _pair_dot(F.col("a_vec"), F.col("b_vec"))
                / (F.col("a_norm") * F.col("b_norm")),
                round_scores,
            ),
        )
        .filter(F.col("score") >= threshold)
        .select("list_id", "id_a", "id_b", "score")
    )


def _query_probes(
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int,
) -> DataFrame:
    """Per-query probe set [query_id, q_vec, q_norm, list_id]: each query's
    ``nprobe`` best centroids by rounded cosine, ties to the lowest id."""
    c = centroids.select(
        F.col("centroid_id"),
        F.transform(F.col("centroid_vec"), lambda x: x.cast("double")).alias("cv"),
        _norm(F.col("centroid_vec")).alias("cn"),
    )
    q = _prep(queries, id_col, vec_col, "q").withColumnRenamed("q_id", "query_id")
    q_scored = q.crossJoin(F.broadcast(c)).withColumn(
        "cscore",
        F.round(_dot_d(F.col("q_vec"), F.col("cv")) / (F.col("q_norm") * F.col("cn")), 6),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cscore").desc(), F.col("centroid_id").asc()
    )
    return (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "q_vec", "q_norm", F.col("centroid_id").alias("list_id"))
    )


def write_ivf_index(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_list: int = 1,
) -> None:
    """Persist the corpus as an on-disk IVF index: rows land under
    ``path/list_id=<centroid>/`` (one inverted list = one storage
    partition). This is the write-time half of the 100 TB ANN story —
    after it, a search's I/O is nprobe/n_lists of the corpus, enforced by
    partition pruning at the scan, not by a runtime filter over all rows.
    ``files_per_list`` > 1 parallelizes very large lists (see
    sources.layout.write_partitioned)."""
    from meshinsights_data_pipeline_spark.sources.layout import write_partitioned

    assigned = ivf_assign(df, centroids, id_col, vec_col)
    write_partitioned(
        df.join(assigned, id_col), path, ["list_id"],
        files_per_partition=files_per_list,
    )


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Search a :func:`write_ivf_index` layout, reading ONLY the probed
    lists from storage. The probe list ids are collected driver-side —
    DISTINCT ids, so bounded by the codebook size (n_lists), NOT by
    |queries| x nprobe: an index-lookup gating scalar and a deliberate
    job boundary — and pushed as a literal ``isin`` filter, which the
    parquet scan turns into PartitionFilters: unprobed list directories
    are never opened. The bound is enforced below (a collect larger than
    the codebook would mean the probe join is broken and the driver-side
    list no longer scales as O(n_lists)). Scores/ranking are
    expression-identical to :func:`ivf_topk` (same prep, same rounded
    fold dot), so results match the in-memory operator bit-for-bit on
    the same centroid set.
    """
    n_lists = centroids.count()  # codebook frame: small by contract
    probes = _query_probes(
        queries, centroids, id_col, vec_col, nprobe
    ).localCheckpoint()  # consumed twice: probe-id collect + the join
    probe_ids = [r.list_id for r in probes.select("list_id").distinct().collect()]
    if len(probe_ids) > n_lists:
        raise AssertionError(
            f"probe-id collect returned {len(probe_ids)} ids for a "
            f"{n_lists}-list codebook; the driver-side contract is "
            "O(n_lists), never O(|queries| x nprobe)"
        )
    corpus = spark.read.parquet(index_path).filter(F.col("list_id").isin(probe_ids))
    cand = (
        corpus.select(
            F.col(id_col),
            F.col("list_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("c_vec"),
            _norm(F.col(vec_col)).alias("c_norm"),
        )
        .join(F.broadcast(probes), "list_id")
        .filter(F.col(id_col) != F.col("query_id"))
    )
    scored = cand.withColumn(
        "score",
        F.round(
            _dot_d(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * F.col("c_norm")),
            6,
        ),
    )
    return _two_phase_rank(
        scored,
        "query_id",
        [F.col("score").desc(), F.col(id_col).asc()],
        F.col(id_col),
        k,
    ).select("query_id", F.col(id_col).alias("neighbor_id"), "score", "rank")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: score only corpus vectors whose inverted list
    is among the query's ``nprobe`` best centroids.

    The second ANN scale path next to RP-LSH: centroids partition the corpus
    into inverted lists (the write-time layout at scale — one list = one
    partition, pruned at read); each query probes nprobe lists, so cost is
    O(|Q| x N x nprobe / n_lists) instead of O(|Q| x N). Deterministic given
    fixed centroids, hence fully oracle-checkable.
    """
    corpus_lists = ivf_assign(corpus, centroids, id_col, vec_col)
    probes = _query_probes(queries, centroids, id_col, vec_col, nprobe)
    cand = corpus_lists.join(F.broadcast(probes), "list_id").filter(
        F.col(id_col) != F.col("query_id")
    )
    cv = _prep(corpus, id_col, vec_col, "c").withColumnRenamed("c_id", id_col)
    scored = (
        cand.join(cv, id_col)
        .withColumn(
            "score",
            F.round(
                _dot_d(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ),
        )
        # a corpus vector can surface via one list only (hard assignment),
        # so no dedup needed before ranking
    )
    return _two_phase_rank(
        scored,
        "query_id",
        [F.col("score").desc(), F.col(id_col).asc()],
        F.col(id_col),
        k,
    ).select("query_id", F.col(id_col).alias("neighbor_id"), "score", "rank")


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    k: int | None = None,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Recall@k of an approximate ANN result against the exact one:
    [query_id, n_truth, n_hits, recall] per query, where recall =
    |approx ∩ exact_top_k| / |exact_top_k|. The quality gate every ANN
    deployment needs next to its index build — run it on a sampled query
    set before trusting an IVF/PQ/LSH configuration at full scale.

    Both inputs are the [query_id, neighbor_id, ..., rank] frames the
    topk family returns; ``k`` truncates BOTH sides (pass None to trust
    the inputs' own k). Plan: one left-semi join on the two int key
    columns + two per-query counts — work scales with |queries| x k,
    never with the corpus.
    """
    qc, nc = F.col(query_col), F.col(neighbor_col)
    truth = exact if k is None else exact.filter(F.col(rank_col) <= k)
    cand = approx if k is None else approx.filter(F.col(rank_col) <= k)
    truth = truth.select(qc.alias("query_id"), nc.alias("neighbor_id"))
    cand = cand.select(qc.alias("query_id"), nc.alias("neighbor_id"))
    hits = truth.join(cand, ["query_id", "neighbor_id"], "left_semi")
    n_truth = truth.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth")
    )
    n_hits = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    return (
        n_truth.join(n_hits, "query_id", "left")
        .select(
            "query_id",
            "n_truth",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_truth"), 6
            ).alias("recall"),
        )
    )


def semantic_decontamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
    round_scores: int = 6,
) -> DataFrame:
    """Embedding-space train/test decontamination (the semantic
    complement of the n-gram contamination_check): each corpus doc's
    MAX cosine against any benchmark embedding, flagged when it reaches
    ``threshold`` — catches paraphrased/reformatted eval leakage that
    exact n-gram overlap misses.

    Scale shape: the benchmark side is broadcast (eval suites are tiny
    next to a 100 TB corpus), scoring is map-side, and the per-doc max
    is a map-side-combinable aggregate — the shuffle carries ONE row per
    corpus doc. For benchmarks too large to broadcast, bucket with
    rp_lsh_buckets and join on bucket instead (the x12 shape).

    The join is a LEFT join, not a cross join: with an EMPTY benchmark
    frame every corpus doc still surfaces, with ``max_sim`` NULL and
    ``contaminated=false`` — a cross join would return an empty frame,
    indistinguishable from "checked and clean".

    Returns [id, max_sim, contaminated] — exactly one row per corpus doc.
    """
    c = _prep(corpus, id_col, vec_col, "c", dim).withColumnRenamed("c_id", "id")
    b = _prep(benchmark, id_col, vec_col, "b", dim).withColumnRenamed(
        "b_id", "bench_id"
    )
    score = F.round(
        _pair_dot(F.col("c_vec"), F.col("b_vec"), dim)
        / (F.col("c_norm") * F.col("b_norm")),
        round_scores,
    )
    return (
        c.join(F.broadcast(b), F.lit(True), "left")
        .select("id", score.alias("_s"))
        .groupBy("id")
        .agg(F.max("_s").alias("max_sim"))
        .select(
            "id",
            "max_sim",
            F.coalesce(F.col("max_sim") >= threshold, F.lit(False)).alias(
                "contaminated"
            ),
        )
    )


def _deterministic_hyperplanes(dim: int, bits: int, seed: int = 7) -> list[list[float]]:
    """Fixed pseudo-random unit-free hyperplanes (LCG-based, seedable,
    reproducible across runs without numpy RNG state)."""
    planes = []
    state = seed
    for _ in range(bits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append(((state >> 20) % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def rp_lsh_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (sign-bit signature).

    Map-side only; the bucket column is the shuffle/partition key for
    bucket-local ANN search. Pass ``dim`` explicitly to keep plan building
    job-free; when omitted it is discovered with a guarded single-row peek
    (an empty frame yields an empty result with the same schema).
    """
    if dim is None:
        head = df.select(vec_col).head(1)
        if not head:
            return df.select(F.col(id_col), F.col(vec_col)).withColumn(
                "bucket", F.lit(0).cast("int")
            )
        dim = len(head[0][0])
    planes = _deterministic_hyperplanes(dim, bits, seed)
    # The whole signature is ONE parsed SQL expression instead of
    # bits x dim Column objects (r16 optimization round): building the
    # plane arrays element-by-element with F.lit issued ~bits*dim py4j
    # calls per table — measured 1.4-1.7s of pure plan-construction time
    # for bits=16/dim=64, paid on EVERY bench run of x10/x12/x52 before
    # any job started. One expr string parses in ~ms. The parsed tree is
    # the same zip_with/aggregate fold over the same double literals
    # (repr round-trips exactly; the D suffix keeps them DOUBLE, not
    # DECIMAL), so dot products, sign decisions and buckets are
    # bit-identical — proven by the x10/x12/x52 oracles and the
    # bucket-equality unit test.
    vq = f"`{vec_col}`"
    terms = []
    for b, plane in enumerate(planes):
        arr = "array(" + ", ".join(f"{x!r}D" for x in plane) + ")"
        dot = (
            f"aggregate(zip_with({vq}, {arr}, "
            "(x, p) -> CAST(x AS DOUBLE) * p), 0.0D, (acc, t) -> acc + t)"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {2 ** b} ELSE 0 END)")
    sig = F.expr(" + ".join(terms))
    return df.select(F.col(id_col), F.col(vec_col)).withColumn(
        "bucket", sig.cast("int")
    )


def rp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    bits: int = 8,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only same-bucket corpus vectors.

    The scale path — the bucket equi-join prunes the candidate set by
    ~2^bits before any dot product runs."""
    def bucketed_prep(df: DataFrame, prefix: str) -> DataFrame:
        b = rp_lsh_buckets(df, id_col, vec_col, bits, seed, dim)
        return b.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(f"{prefix}_vec"),
            _norm(F.col(vec_col)).alias(f"{prefix}_norm"),
            "bucket",
        )

    cb = bucketed_prep(corpus, "c")
    qb = bucketed_prep(queries, "q").withColumnRenamed("q_id", "query_id")
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col("c_id") != F.col("query_id"))
        .withColumn(
            "score",
            F.round(
                _pair_dot(F.col("q_vec"), F.col("c_vec"), dim)
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ),
        )
    )
    return _two_phase_rank(
        scored,
        "query_id",
        [F.col("score").desc(), F.col("c_id").asc()],
        F.col("c_id"),
        k,
    ).select("query_id", F.col("c_id").alias("neighbor_id"), "score", "rank")


# -- Product quantization (PQ) — the memory-compressed ANN path ------------
#
# Jegou et al. 2011 ("Product Quantization for Nearest Neighbor Search"):
# split each vector into m subvectors, quantize each against a ks-codeword
# codebook, store only the m byte-sized codes (64-dim float vector -> 8
# bytes), and answer queries by asymmetric distance computation (ADC): the
# query precomputes an m x ks table of subvector distances and every
# corpus distance is m table lookups + adds. At 100 TB the corpus-side
# state is ~1/64th the raw vectors and the scan is lookup-bound.
#
# Codebooks here are deterministic (same LCG family as the RP-LSH
# hyperplanes) so encoding and search are pure functions — trained
# k-means codebooks drop in by replacing _deterministic_codebooks.
# Distance math is arranged so both engines compute IDENTICAL doubles:
# ||s - c||^2 is evaluated as dot(s,s) - 2*dot(s,c) + ||c||^2 with
# sequential-fold dots (bit-identical to DuckDB list_dot_product) and
# ||c||^2 precomputed in Python and embedded as a literal in both.


def _deterministic_codebooks(
    dim: int, m: int, ks: int, seed: int = 11
) -> list[list[list[float]]]:
    """m codebooks of ks codewords of dim//m floats each, LCG-generated."""
    sub = dim // m
    state = seed
    books = []
    for _ in range(m):
        words = []
        for _ in range(ks):
            w = []
            for _ in range(sub):
                state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
                w.append(((state >> 20) % 2001 - 1000) / 1000.0)
            words.append(w)
        books.append(words)
    return books


def _norm_sq(w: list[float]) -> float:
    """Left-fold sum of squares in Python — embedded as the ||c||^2
    literal in both engines."""
    acc = 0.0
    for x in w:
        acc = acc + x * x
    return acc


def _unrolled_dot_sql(s: str, w: list[float]) -> str:
    """dot(column s, literal w) as an unrolled left-associated SQL sum —
    same values as the sequential fold (identical op order). Emitted as
    TEXT, not Column objects: building the ~10k-node PQ expression tree
    through py4j costs one JVM round-trip per node (measured 210s in a
    warm session) while a selectExpr string is ONE call and parses
    JVM-side in milliseconds. Codebook literals are k/1000 with 3
    decimals, so repr never produces scientific notation; the D suffix
    makes them SQL doubles."""
    terms = [f"element_at({s}, {j + 1}) * {w[j]!r}D" for j in range(len(w))]
    return "(" + " + ".join(terms) + ")"


_PQ_VIEW_SEQ = count()


_NO_WHOLESTAGE_LOCK = threading.Lock()
_NO_WHOLESTAGE_STATE: dict = {}  # session id -> {"depth": int, "prev": str}


@contextmanager
def _no_wholestage(spark):
    """Scope whole-stage codegen OFF around an eager PQ job.

    PQ-sized expression trees compile fine under per-operator codegen
    (UnsafeProjection splits generated code into many small methods) but
    overflow janino's 64 KB method limit under whole-stage codegen, which
    cannot split expressions that reference fused local row variables.
    Spark then logs a full InternalCompilerException stack trace and
    silently falls back to INTERPRETED evaluation for the whole stage —
    measured at sf0.1/local[32]: encode 1.55s interpreted vs 0.75s
    per-operator codegen; ADC search 2.9s vs 1.6s.

    Reentrancy/concurrency: the conf is session-global, so nesting or
    concurrent scopes (e.g. two streaming foreachBatch threads running
    streaming_pq_ingest) are depth-counted per session under a lock —
    only the OUTERMOST enter records the previous value and only the
    last exit restores it, so a racing pair can never 'restore' the
    temporary false and leave codegen off for the whole session.
    Unrelated queries PLANNED while a scope is open do lose whole-stage
    codegen for that plan (perf only, never correctness) — the scopes
    here are tight around short eager actions."""
    key = "spark.sql.codegen.wholeStage"
    sid = id(spark)
    with _NO_WHOLESTAGE_LOCK:
        st = _NO_WHOLESTAGE_STATE.setdefault(sid, {"depth": 0, "prev": "true"})
        if st["depth"] == 0:
            try:
                st["prev"] = spark.conf.get(key)
            except Exception:  # noqa: BLE001 - key always exists in practice
                st["prev"] = "true"
            spark.conf.set(key, "false")
        st["depth"] += 1
    try:
        yield
    finally:
        with _NO_WHOLESTAGE_LOCK:
            st = _NO_WHOLESTAGE_STATE[sid]
            st["depth"] -= 1
            if st["depth"] == 0:
                spark.conf.set(key, st["prev"])
                del _NO_WHOLESTAGE_STATE[sid]


def _pq_encode_ctes(view: str, id_col: str, vec_col: str, dim: int, m: int,
                    ks: int, seed: int, prefix: str = "") -> str:
    """The encode pipeline as SQL CTE text (staged so every non-cheap
    expression is single-occurrence: the naive form inlines each scores
    array into both array_min and array_position)."""
    sub_d = dim // m
    books = _deterministic_codebooks(dim, m, ks, seed)
    slices = ", ".join(
        f"slice(_v, {i * sub_d + 1}, {sub_d}) AS _s{i}" for i in range(m)
    )
    score_exprs = ", ".join(
        "array("
        + ", ".join(
            f"({_norm_sq(w)!r}D - 2.0D * {_unrolled_dot_sql(f'_s{i}', w)})"
            for w in books[i]
        )
        + f") AS _sc{i}"
        for i in range(m)
    )
    code_exprs = ", ".join(
        f"cast(array_position(_sc{i}, array_min(_sc{i})) - 1 AS int) AS _c{i}"
        for i in range(m)
    )
    codes_arr = "array(" + ", ".join(f"_c{i}" for i in range(m)) + ")"
    return f"""
{prefix}vecs AS (
    SELECT {id_col}, transform({vec_col}, x -> cast(x as double)) AS _v
    FROM {view}
),
{prefix}subs AS (SELECT {id_col}, {slices} FROM {prefix}vecs),
{prefix}scores AS (SELECT {id_col}, {score_exprs} FROM {prefix}subs),
{prefix}coded AS (SELECT {id_col}, {code_exprs} FROM {prefix}scores),
{prefix}enc AS (SELECT {id_col}, {codes_arr} AS codes FROM {prefix}coded)"""


def pq_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    ks: int = 16,
    seed: int = 11,
) -> DataFrame:
    """PQ codes per vector: [id, codes array<int>] (codes[i] = argmin_j
    ||sub_i - codeword_ij||^2, ties to the lowest codeword id via
    first-position-of-min). Map-side only — no shuffle; the codes frame
    is the compact corpus representation pq_topk scans.

    The constant dot(s,s) term cancels inside a fixed subvector's argmin,
    so encoding scores are ||c||^2 - 2*dot(s,c).

    Plan-cost design, all measured (the PQ tree is ~10k expression
    nodes): built as ONE generated SQL statement — per-node Column
    construction costs a py4j round-trip each (210s to merely build the
    frame in a warm session), per-stage selectExpr re-analyzes the
    growing plan per stage, and m*ks HOF lambda folds cost minutes of
    analysis; single-statement SQL with unrolled left-associated
    element_at dots parses and analyzes once (~2s) with values
    bit-identical to DuckDB's list_dot_product."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    view = f"_pq_encode_in_{next(_PQ_VIEW_SEQ)}"
    df.createOrReplaceTempView(view)
    try:
        ctes = _pq_encode_ctes(view, id_col, vec_col, dim, m, ks, seed)
        return df.sparkSession.sql(f"WITH {ctes}\nSELECT * FROM enc")
    finally:
        # spark.sql analyzes eagerly — the returned frame holds the RESOLVED
        # plan, not the view name — so dropping immediately is safe and keeps
        # long-lived sessions (e.g. a streaming driver encoding per batch)
        # from leaking one catalog entry per call.
        df.sparkSession.catalog.dropTempView(view)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    ks: int = 16,
    k: int = 10,
    seed: int = 11,
    eager_encode: bool = True,
) -> DataFrame:
    """PQ/ADC approximate top-k: [query_id, neighbor_id, adist, rank]
    (ascending approximate squared distance, ties to the lowest id).

    Each query precomputes its m x ks distance table (broadcast hint —
    query sets are small); every corpus row costs m element_at lookups +
    adds over its codes. The corpus side never touches raw vectors after
    encoding — that is PQ's memory story at scale. One generated SQL
    statement for the same plan-cost reasons as pq_encode; the
    query-side self-dot dq_i stays a sequential fold (only m of them,
    value-order identical to list_dot_product(sub, sub)).

    ``eager_encode``: the escape hatch for long-lived drivers. True
    (default) runs the corpus encode job AT BUILD TIME and pins the
    codes via an eager localCheckpoint, whose RDD is freed only when the
    returned frame is garbage-collected; False keeps construction fully
    lazy (no job, no pinned storage) at a measured ~1s/call analysis
    cost at sf0.1, for callers that build many frames or may never
    execute one.

    Codegen design (measured, see _no_wholestage): the two PQ-sized
    expression stages — corpus encode and the query distance tables —
    execute EAGERLY under a no-wholestage scope, where per-operator
    codegen compiles them (whole-stage overflows janino's 64 KB method
    limit and Spark falls back to interpreted eval: ~2x slower on both
    stages). The returned statement then contains only the compact ADC
    lookup (m element_ats) + the two-phase rank, which whole-stage
    codegen compiles fine — so the HOT corpus-scan path is fully
    compiled in both regimes. With ``eager_encode=False`` the old
    fully-lazy single-statement form is returned unchanged (no build-time
    jobs; its giant stages fall back to interpreted eval at action time,
    with the attendant one-time compiler stack trace in the logs)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_d = dim // m
    books = _deterministic_codebooks(dim, m, ks, seed)
    n = next(_PQ_VIEW_SEQ)
    e_view, q_view = f"_pq_codes_{n}", f"_pq_queries_{n}"
    # Encode ONCE and (by default) EAGERLY localCheckpoint the codes: the
    # encode tree is ~10k expression nodes, and only an eager checkpoint
    # hides it behind a resolved RDD scan — measured: lazy leaves the full
    # tree visible to the search statement's analysis/optimization and
    # costs ~1s/call MORE than eager (4.5s vs 3.5s warm at sf0.1), so the
    # documented trade is: BUILDING a pq_topk frame runs the corpus
    # encode job immediately, even if the frame is never executed.
    codes = pq_encode(corpus, id_col, vec_col, dim, m, ks, seed)
    if eager_encode:
        with _no_wholestage(corpus.sparkSession):
            codes = codes.localCheckpoint()
    codes.createOrReplaceTempView(e_view)

    q_slices = ", ".join(
        f"slice(_v, {i * sub_d + 1}, {sub_d}) AS _s{i}" for i in range(m)
    )
    dqs = ", ".join(
        f"aggregate(zip_with(_s{i}, _s{i}, (x, y) -> x * y), "
        f"cast(0.0 as double), (acc, v) -> acc + v) AS _dq{i}"
        for i in range(m)
    )
    tabs = ", ".join(
        "array("
        + ", ".join(
            f"(_dq{i} - 2.0D * {_unrolled_dot_sql(f'_s{i}', w)} + {_norm_sq(w)!r}D)"
            for w in books[i]
        )
        + f") AS _t{i}"
        for i in range(m)
    )
    adist = " + ".join(
        f"element_at(_t{i}, element_at(codes, {i + 1}) + 1)" for i in range(m)
    )
    # The qt pipeline as named CTE text, shared verbatim by both branches
    # (composed, never sliced — the X53-oracle lesson).
    qt_ctes = f"""qvecs AS (
    SELECT {id_col} AS query_id,
           transform({vec_col}, x -> cast(x as double)) AS _v
    FROM {q_view}
),
qsubs AS (SELECT query_id, {q_slices} FROM qvecs),
qdq AS (SELECT *, {dqs} FROM qsubs)"""
    qt_select = f"SELECT query_id, {tabs} FROM qdq"
    queries.createOrReplaceTempView(q_view)
    if eager_encode:
        # Materialize the per-query distance tables (|queries| rows) the
        # same way — the other PQ-sized expression stage — leaving the
        # final statement fully whole-stage-compilable.
        try:
            with _no_wholestage(queries.sparkSession):
                qt_frame = queries.sparkSession.sql(
                    f"WITH {qt_ctes}\n{qt_select}"
                ).localCheckpoint()
        finally:
            queries.sparkSession.catalog.dropTempView(q_view)
        qt_frame.createOrReplaceTempView(q_view)
        qt_cte = f"qt AS (SELECT * FROM {q_view})"
    else:
        qt_cte = f"{qt_ctes},\nqt AS ({qt_select})"
    sql = f"""
WITH {qt_cte},
scored AS (
    SELECT /*+ BROADCAST(qt) */ qt.query_id, e.{id_col} AS neighbor_id,
           round({adist}, 6) AS adist
    FROM {e_view} e CROSS JOIN qt WHERE e.{id_col} <> qt.query_id
),
-- Two-phase top-k (skew-proof, bit-identical to a single window: top-k is
-- decomposable under the shared total order): a plain per-query window
-- sorts the whole scored corpus for one query in ONE task at scale.
local AS (
    SELECT query_id, neighbor_id, adist,
           ROW_NUMBER() OVER (PARTITION BY query_id,
                                           pmod(xxhash64(neighbor_id), 16)
                              ORDER BY adist ASC, neighbor_id ASC) AS lrk
    FROM scored
),
ranked AS (
    SELECT query_id, neighbor_id, adist,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adist ASC, neighbor_id ASC) AS rk
    FROM local WHERE lrk <= {k}
)
SELECT query_id, neighbor_id, adist, cast(rk AS bigint) AS rank
FROM ranked WHERE rk <= {k}
"""
    try:
        return corpus.sparkSession.sql(sql)
    finally:
        # Eager analysis resolves both views into the returned plan; drop
        # them so per-batch callers don't leak catalog entries (see
        # pq_encode).
        corpus.sparkSession.catalog.dropTempView(e_view)
        corpus.sparkSession.catalog.dropTempView(q_view)


def label_centroid_similarity(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Pairwise cosine similarity between per-group embedding CENTROIDS
    — the corpus-mixture monitor an embedding pipeline runs next to the
    per-vector stats (x59): two sources/labels whose centroids drift
    together are near-duplicate slices (candidates for merging or
    deduplication budget), drifting apart signals distribution shift.

    Returns ``[group_a, group_b, n_a, n_b, cosine]`` for every unordered
    group pair (group_a < group_b), cosine rounded to ``round_to``.

    Cross-engine determinism: per-dimension sums fold through
    DECIMAL(38,12) (float summation is partition-order-dependent; the
    x85-proven double->decimal surface), each centroid component is ONE
    double division of that exact sum, and the pair dot/norms run as
    SEQUENTIAL array folds over position-sorted centroid arrays — the
    same fixed fold order DuckDB's list functions use (the x06/x59
    parity surface) — so every float op happens in an identical order
    in both engines.

    Scale shape: one posexplode (dim x rows, map-side) into ONE
    (group, pos) hash aggregate with map-side combine — the only
    corpus-sized shuffle; centroid reassembly and the pair join run
    over |groups| rows (broadcast-sized by construction: this operator
    is for label/source cardinalities, not per-doc ones).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    comp = df.select(
        F.col(group_col), F.posexplode(v).alias("pos", "x")
    )
    cent = comp.groupBy(group_col, "pos").agg(
        (
            F.sum(F.col("x").cast("decimal(38,12)")).cast("double")
            / F.count("x")
        ).alias("c"),
        F.count("x").cast("bigint").alias("n"),
    )
    arr = cent.groupBy(group_col).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("cv"),
        F.max("n").alias("n"),
    )
    a, b = arr.alias("a"), arr.alias("b")
    dot = lambda x, y: F.aggregate(  # noqa: E731 - local plan builder
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, t: acc + t
    )
    ga, gb = F.col(f"a.{group_col}"), F.col(f"b.{group_col}")
    pairs = a.join(F.broadcast(b), ga < gb)
    cos = dot(F.col("a.cv"), F.col("b.cv")) / (
        F.sqrt(dot(F.col("a.cv"), F.col("a.cv")))
        * F.sqrt(dot(F.col("b.cv"), F.col("b.cv")))
    )
    return pairs.select(
        ga.alias("group_a"),
        gb.alias("group_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.round(cos, round_to).alias("cosine"),
    )


def embedding_covariance(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Population covariance matrix of the embedding dimensions —
    ``cov(i, j)`` for every 1-based pair ``i <= j`` (plus the per-dim
    means), the second-moment health report of an embedding column:
    collapsed dimensions (zero variance), redundant pairs (|corr| ~ 1),
    and covariance drift between snapshots are all read off this frame,
    and it is the input to PCA whitening (:func:`pca_components`).

        cov(i,j) = E[x_i * x_j] - E[x_i] * E[x_j]

    Returns ``[i, j, n, mean_i, mean_j, cov]``.

    Contract: vectors are FIXED-WIDTH (the embeddings-table invariant
    shared with x96/x59). Ragged inputs would silently mix populations
    — a pair's n counts only vectors carrying both dims while each mean
    averages its own dim's population — and the DuckDB mirror counts
    missing trailing dims as NULL rows where posexplode emits none, so
    the engines would disagree; enforce width upstream if the source
    can be ragged.

    Cross-engine determinism: the product and per-dimension sums fold
    through DECIMAL(38,12) (the x96 centroid discipline — float
    summation is partition-order-dependent), then cov is three fixed
    IEEE ops (two divisions inside, one multiply, one subtract),
    rounded. Indices are 1-based in BOTH engines (Spark posexplode + 1,
    DuckDB range(1, len+1)).

    Scale shape: one posexplode to (id, i, x) and a within-row pair
    join — d(d+1)/2 rows per vector. For corpus-scale d this is the
    exact tier; cap with ``dims`` (leading-slice) or pre-reduce with
    :func:`pca_components` projection. The pair frame aggregates
    map-side (combineByKey on (i, j)), so the shuffle carries at most
    d(d+1)/2 rows per partition, not per row.
    """
    v = F.col(vec_col)
    if dims is not None:
        v = F.slice(v, 1, int(dims))
    comp = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(v).alias("_p0", "_x"),
    ).select(
        "_id",
        (F.col("_p0") + 1).alias("_p"),
        F.col("_x").cast("double").alias("_x"),
    )
    dec = "decimal(38,12)"
    a, b = comp.alias("a"), comp.alias("b")
    pairs = a.join(
        b,
        (F.col("a._id") == F.col("b._id")) & (F.col("a._p") <= F.col("b._p")),
    ).select(
        F.col("a._p").alias("i"),
        F.col("b._p").alias("j"),
        (F.col("a._x") * F.col("b._x")).cast(dec).alias("_xy"),
    )
    sums = pairs.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_xy").cast("double").alias("_sxy"),
    )
    dim_means = comp.groupBy(F.col("_p").alias("_d")).agg(
        (
            F.sum(F.col("_x").cast(dec)).cast("double")
            / F.count(F.lit(1))
        ).alias("_m")
    )
    mi = dim_means.select(F.col("_d").alias("i"), F.col("_m").alias("mean_i"))
    mj = dim_means.select(F.col("_d").alias("j"), F.col("_m").alias("mean_j"))
    return (
        sums.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            "n",
            # + 0.0 collapses IEEE negative zero (the engines round
            # tiny negatives to -0.0 vs 0.0 differently); no-op else
            (F.round(F.col("mean_i"), round_to) + F.lit(0.0)).alias(
                "mean_i"
            ),
            (F.round(F.col("mean_j"), round_to) + F.lit(0.0)).alias(
                "mean_j"
            ),
            (
                F.round(
                    F.col("_sxy") / F.col("n")
                    - F.col("mean_i") * F.col("mean_j"),
                    round_to,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def pca_components(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dims: int | None = None,
):
    """Top-``k`` principal components of an embedding column: the
    covariance matrix is aggregated distributed (exact DECIMAL folds,
    :func:`embedding_covariance`), then eigendecomposed DRIVER-side —
    a d x d matrix is a bounded scalar by contract (d <= a few
    thousand), the same sanctioned tiny-collect as the IVF codebooks.
    Returns ``(components, explained_var, means)``: a list of k unit
    eigenvectors (each length d) sorted by descending eigenvalue, their
    eigenvalues, and the per-dimension means — the covariance is of the
    CENTERED data, so projections must subtract these means
    (:func:`pca_project` takes them directly; projecting uncentered
    vectors adds a constant offset that cosine similarity is NOT
    invariant to).

    Sign convention: each component is flipped so its
    largest-|coordinate| entry is positive (numpy's eigh sign is
    otherwise arbitrary), making the result reproducible across runs.
    """
    import numpy as np

    cov_rows = embedding_covariance(
        df, id_col, vec_col, dims=dims, round_to=12
    ).collect()  # d(d+1)/2 rows — bounded by the dimension contract
    if not cov_rows:
        raise ValueError(
            "pca_components: no vectors to decompose (empty or fully "
            "filtered input frame)"
        )
    d = max(r["j"] for r in cov_rows)
    m = np.zeros((d, d))
    means = [0.0] * d
    for r in cov_rows:
        m[r["i"] - 1, r["j"] - 1] = r["cov"]
        m[r["j"] - 1, r["i"] - 1] = r["cov"]
        means[r["i"] - 1] = float(r["mean_i"])
        means[r["j"] - 1] = float(r["mean_j"])
    vals, vecs = np.linalg.eigh(m)
    order = np.argsort(vals)[::-1][: int(k)]
    comps = []
    for idx in order:
        c = vecs[:, idx]
        pivot = int(np.argmax(np.abs(c)))
        if c[pivot] < 0:
            c = -c
        comps.append([float(x) for x in c])
    return comps, [float(vals[i]) for i in order], means


def pca_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    components: list[list[float]],
    means: list[float] | None = None,
    out_col: str = "pca",
) -> DataFrame:
    """Project vectors onto precomputed principal components (from
    :func:`pca_components`): ``pca[c] = dot(x - mean, comp_c)``. The
    components and means ship as broadcast array literals, so the
    projection is a map-side zip_with/aggregate chain in codegen — one
    corpus scan, zero shuffles, the dimensionality-reduction front-end
    for the ANN family (IVF/PQ recall improves on whitened inputs).
    """
    v = F.col(vec_col)
    if means is not None:
        mean_arr = F.array(*[F.lit(float(x)) for x in means])
        centered = F.zip_with(v, mean_arr, lambda x, mu: x.cast("double") - mu)
    else:
        centered = F.transform(v, lambda x: x.cast("double"))
    projs = [
        F.aggregate(
            F.zip_with(
                centered,
                F.array(*[F.lit(float(w)) for w in comp]),
                lambda x, w: x * w,
            ),
            F.lit(0.0),
            lambda acc, p: acc + p,
        )
        for comp in components
    ]
    return df.select(
        F.col(id_col), F.array(*projs).alias(out_col)
    )
