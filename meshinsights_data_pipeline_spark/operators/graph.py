"""PageRank over an edge list — the link-graph quality signal a
web-scale pretraining pipeline ranks hosts/URLs with (the OPIC/Common
Crawl-style crawl-priority and quality-weighting family; sibling of the
connected-components dedup clustering in operators.components, which
documents the shared iterative-join discipline).

Scale design: state is one [node, rank] frame at NODE cardinality; each
iteration is

    ranks  join  edges (on src)      -- shuffle keyed on src
    groupBy dst, sum contributions   -- shuffle keyed on dst, map-side
                                        combine
    left join back onto nodes        -- nodes without in-links keep the
                                        teleport term

so per-iteration cost is O(|E|) with no corpus^2 shape anywhere. Edges
partitioned by src are reused every round (persist the edge frame for
multi-round runs). Like connected_components, each round's plan embeds
the previous round's, so lineage is truncated with localCheckpoint every
``checkpoint_every`` rounds — without it the logical plan doubles per
iteration.

Semantics (documented simplification, standard in bulk implementations):
dangling nodes (no out-links) do not redistribute their mass; every node
receives the uniform teleport term (1-d)/N plus d * sum over in-links of
rank/out-degree. Ranks therefore sum to <= 1 in graphs with dangling
nodes; rankings are unaffected for quality-signal use. Fixed iteration
count keeps the result deterministic and lets the DuckDB oracle unroll
the same rounds exactly (x67).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    round_to: int | None = 6,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Rank every node of the (deduplicated) edge list after a fixed
    number of power-iteration rounds. Returns [node, rank].

    ``edges`` is treated as an UNWEIGHTED simple digraph: duplicate
    (src, dst) rows are collapsed first so a repeated edge does not
    multiply its contribution. Self-loops count like any other edge.
    ``round_to`` rounds the final rank (cross-engine float-sum hygiene);
    pass None for raw doubles.

    Cache lifetime: the node roster (``materialize``) and the
    [src, dst, _deg] edge frame are persisted and never unpersisted. The
    returned lazy frame keeps reading them, so both stay in the session's
    CacheManager until the session ends or the caller runs
    ``spark.catalog.clearCache()`` after its terminal action. A later call
    over the same input plan reuses those entries. The edge frame's
    persist is lazy, so composing the result into a plan whose stages run
    concurrently can race its first materialization (see
    ``operators.barrier``).
    """
    from meshinsights_data_pipeline_spark.operators.barrier import (
        materialize as _materialize,
    )

    # NOTE (r16, measured twice and kept WITHOUT a barrier): the distinct
    # edge list feeds four subtrees (both node-union legs, the out-degree
    # aggregate, the out_edges join), but ReuseExchange already dedupes
    # the shuffle under the distinct across them, so an explicit
    # materialize() here ADDS a persist+count job and cache churn while
    # saving little recompute — a bench-faithful interleaved A/B on x67
    # (three consecutive build+noop runs per variant) measured the
    # barrier ~1.2-1.7s SLOWER per warm run. The barrier stays on the
    # two frames below, whose consumers span the iteration rounds.
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    # Node roster via explode — ONE scan of the distinct edge subtree
    # instead of the two a self-union embeds (r17; the components.py
    # symmetrize fusion — the union form only avoided a double scan
    # when ReuseExchange happened to fire).
    nodes = (
        e.select(F.explode(F.array("src", "dst")).alias("node"))
        .distinct()
    )
    # Every round's plan consumes nodes AND the edge frame; without a
    # barrier the upstream scan + distinct replays once per round
    # (measured at sf0.1: 4.4s -> 2.7s warm for 3 rounds). N and the
    # teleport term are per-run scalars; the count doubles as the
    # barrier's eager step (the documented gating-scalar pattern).
    nodes = _materialize(nodes)
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    teleport = (1.0 - damping) / n_nodes

    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    # [src, dst, _deg], reused every round — LAZY persist (r17): the
    # rounds consume it strictly sequentially inside the one terminal
    # action, so the first round's join materializes the cache with no
    # race and the eager count job was pure overhead (interleaved A/B:
    # 3/4 rounds faster at sf0.1 and sf1, ~0.15s / ~0.5s warm).
    from pyspark.storagelevel import StorageLevel

    out_edges = e.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for i in range(iterations):
        # Each contribution is a deterministic double; the fold over a
        # node's in-links runs in exact DECIMAL(38,18) so partial-
        # aggregate order cannot drift an ulp between runs (and the
        # DuckDB oracle mirrors the same cast) — errors would otherwise
        # compound across rounds before the final rounding.
        contribs = (
            out_edges.join(ranks, out_edges["src"] == ranks["node"])
            .select("dst", (F.col("rank") / F.col("_deg")).alias("_c"))
            .groupBy("dst")
            .agg(
                F.sum(F.col("_c").cast("decimal(38,18)"))
                .cast("double")
                .alias("_in")
            )
        )
        ranks = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint()
    if round_to is not None:
        ranks = ranks.select("node", F.round("rank", round_to).alias("rank"))
    return ranks


def triangle_counts(
    pairs: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list — the
    local-clustering signal of the graph family (PageRank = global
    importance, connected components = dedup clustering, triangles =
    community density; in a link/co-occurrence graph, spam farms and
    boilerplate rings show anomalous triangle density).

    Input rows are undirected (orientation irrelevant, duplicates and
    self-loops tolerated). Returns ``[node, triangles]`` for every node
    in at least one triangle; each triangle credits all three corners.
    Counts are exact integers — bit-identical across engines.

    Scale shape (the compact-forward / degree-ordering algorithm):
    edges are oriented from the lower-(degree, id) endpoint to the
    higher, which bounds every node's OUT-degree by O(sqrt(|E|)) —
    wedge enumeration (the self-join on the wedge apex) is therefore
    O(|E|^1.5) worst-case instead of sum-of-squared-degrees; a hub of
    degree millions contributes NO wedges from its own apex because all
    its edges point INTO it. Three shuffles total: degree aggregate,
    apex self-join, closure hash-join on the (v, w) edge key. No
    broadcast of anything graph-sized, no corpus^2 shape.
    """
    # r16: both canonical frames below feed three subtrees each (e: the
    # degree aggregate + two endpoint joins; e_dir: both wedge legs + the
    # closure), so left lazy the caller's edge pipeline replays ~3x. Lazy
    # localCheckpoints (the duplicate_spans idiom) compute each once at
    # the first action; every consumer reads the same executor-local
    # blocks.
    e = (
        pairs.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.explode(F.array(F.col("a"), F.col("b"))).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    # Orient each edge from the lower (degree, id) endpoint to the higher;
    # carry both endpoints' (degree, id) keys for the wedge-order filter.
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    ed = e.join(da, "a").join(db, "b")
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    e_dir = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).localCheckpoint(eager=False)
    # Wedges at apex u: pairs of out-neighbors (v, w) with ord(v) < ord(w);
    # the triangle closes iff the oriented edge v -> w exists.
    w1 = e_dir.select(F.col("u"), F.col("v"), F.col("dv"))
    w2 = e_dir.select(
        F.col("u"), F.col("v").alias("w"), F.col("dv").alias("dw")
    )
    wedges = w1.join(w2, "u").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closure = e_dir.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    )
    tris = wedges.join(closure, ["v", "w"]).select("u", "v", "w")
    return (
        tris.select(
            F.explode(F.array(F.col("u"), F.col("v"), F.col("w"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
