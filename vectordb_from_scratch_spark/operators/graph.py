"""Graph analytics over relational edges: PageRank (Page, Brin,
Motwani, Winograd 1998 — public). Complements the dedup module's
connected components (operators/dedup.py) with the other canonical
iterative graph operator; useful in data curation for link/citation
centrality weighting.

Deterministic by construction, the repo's oracle contract: the
per-target contribution sum accumulates in DECIMAL(28,18), which is
exact and order-independent, so the result is a function of the DATA,
not Spark's partitioning; the DuckDB twin sums the same decimals (see
pagerank for the cross-engine cast bound).

Simplified formulation (documented divergence from the full random
surfer): dangling nodes' mass is NOT redistributed — pr'(v) =
(1-d)/n + d·Σ_{u→v} pr(u)/outdeg(u), so total mass decays where sinks
exist. Rankings are unaffected for the connected cores this is used
on, and the formula stays a pure join+aggregate per iteration.

Scale: each iteration is one equi-join of (node, pr) against the edge
list plus one bounded two-level aggregation — the standard distributed
PageRank shape; edges are the big table and are never re-shuffled if
pre-partitioned by src. Iterations unroll with a localCheckpoint per
round: pr feeds both the contribution join and the next round's
baseline, so without truncation the lineage doubles per round."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cache

__all__ = ["pagerank", "label_propagation", "triangle_count"]


def triangle_count(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact triangle counting over an UNDIRECTED edge list (either or
    both directions may be present; self-loops ignored). Triangles per
    vertex — the classic local-clustering signal (used on similarity
    graphs to find tightly-knit near-duplicate neighborhoods that
    pairwise dedup misses). Returns (node, n_triangles) for every vertex
    of the graph, 0 where none.

    Algorithm (Suri & Vassilvitskii, "Counting triangles and the curse
    of the last reducer", WWW 2011 — public): orient every undirected
    edge from the lower-(degree, id) endpoint to the higher one. Each
    triangle then has exactly ONE wedge (u→v, u→w) at its lowest vertex,
    so  oriented ⋈ oriented on the wedge apex, semi-joined against
    oriented edges, counts each triangle once with join fan-out bounded
    by Σ d_oriented(u)² — and degree-orientation caps d_oriented at
    O(√|E|) even on power-law graphs, which is precisely the
    "last-reducer" skew fix. All equi-joins + hash aggregates; no
    windows, no iteration.
    """
    # canon feeds deg (twice) and oriented; oriented feeds four joins.
    # Without lineage truncation each consumer re-expands the whole
    # upstream subtree in the physical plan (Spark has no automatic
    # common-subplan reuse), multiplying any expensive edge derivation —
    # e.g. a kNN-graph build — by ~500 copies. localCheckpoint runs each
    # shared stage ONCE, the same device as pagerank.
    canon = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        .transform(cache.checkpoint)
    )
    deg = (
        canon.select(F.col("u").alias("node"))
        .union(canon.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient low-(deg, id) → high-(deg, id)
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    oriented = (
        canon.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
        .transform(cache.checkpoint)
    )
    e1 = oriented.select(F.col("s").alias("apex"), F.col("t").alias("x"))
    e2 = oriented.select(F.col("s").alias("apex"), F.col("t").alias("y"))
    wedges = e1.join(e2, "apex").filter(F.col("x") < F.col("y"))
    tri = (
        wedges.join(
            oriented.select(F.col("s").alias("x"), F.col("t").alias("y")),
            ["x", "y"],
            "inner",
        )
        .unionByName(  # closing edge may be oriented y→x instead
            wedges.join(
                oriented.select(F.col("t").alias("x"), F.col("s").alias("y")),
                ["x", "y"],
                "inner",
            )
        )
        # three consumers (one per triangle corner) — run the wedge
        # closure once, not three times
        .transform(cache.checkpoint)
    )
    per_vertex = (
        tri.select(F.col("apex").alias("node"))
        .union(tri.select(F.col("x").alias("node")))
        .union(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.select("node")
        .join(per_vertex, "node", "left")
        .select(
            "node", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
        )
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge list (distinct (src, dst) pairs).
    Returns (node, pr) for every node appearing as src or dst.
    `damping` and its complement must be exact-literal doubles on both
    engines — pass 0.85 and the twin writes 0.15, never 1-0.85.

    Per-target contribution sums accumulate in DECIMAL(28,18) (cast per
    contribution, summed exactly, cast back to double) — order-
    independent, so the result is partitioning-independent and
    reproducible within each engine, executed as a plain hash aggregate
    WITH map-side partials: no collect_list, no per-group array sort, no
    interpreted fold lambda. Bench: 7.4 s → ~3.8 s at sf0.1 (600k-edge
    graph, 3 iterations); the fold-tree device (ann.fold_tree_mean)
    costs the difference.

    Cross-engine contract (weaker than the fold tree's, deliberately):
    double→decimal casts can disagree between engines in the 18th
    fractional digit (Spark casts the shortest decimal repr, DuckDB the
    exact binary value — measured: most casts differ for values ≥ 0.01,
    none for values ≤ 1e-3, where the decimal grid is coarser than a
    double ulp). Contributions here are pr/outdeg ≤ 1, so per-term
    divergence is ≤ 1e-18, total divergence ~1e-18·indegree — the
    round(pr, 6) driver comparison flips only if a value lands within
    ~1e-15 of a rounding boundary (~1e-9 chance per value; measured 0
    unrounded mismatches over all nodes at sf0.01). Where downstream
    COMPARISONS consume the sums (centroid routing), use the bit-exact
    fold tree instead — this trade is only safe for terminal, rounded
    output."""
    # e / nodes / outdeg each feed every iteration: localCheckpoint runs
    # the (possibly expensive) edge derivation + distinct ONCE instead of
    # once per iteration per consumer — same device as the pr chain below.
    # repartition(src) BEFORE the checkpoint: LogicalRDD keeps the
    # physical hash-partitioning, so every iteration's e⋈pr equi-join on
    # src reuses it instead of re-shuffling the (big) edge table per
    # round — the standard distributed-PageRank layout (guide §2.4
    # "two operations keyed the same way share one exchange"); measured
    # 5.2 → 4.0 s at sf0.1, values identical (decimal sums are
    # order-independent)
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .repartition(F.col("src"))
        .transform(cache.checkpoint)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(cache.checkpoint)
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).transform(cache.checkpoint)
    n_df = nodes.agg(F.count(F.lit(1)).alias("__n"))
    base = F.lit(1.0 - damping) / F.col("__n").cast("double")
    pr = (
        nodes.crossJoin(F.broadcast(n_df))
        .select("node", (F.lit(1.0) / F.col("__n").cast("double")).alias("pr"))
        .transform(cache.checkpoint)
    )
    for _ in range(iters):
        contrib = (
            e.join(pr.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("pr") / F.col("outdeg").cast("double"))
                .cast("decimal(28,18)")
                .alias("c"),
            )
        )
        summed = contrib.groupBy("node").agg(
            F.sum("c").cast("double").alias("s")
        )
        pr = (
            nodes.join(summed, "node", "left")
            .crossJoin(F.broadcast(n_df))
            .select(
                "node",
                (base + F.lit(damping) * F.coalesce("s", F.lit(0.0))).alias("pr"),
            )
            .transform(cache.checkpoint)
        )
    return pr


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan, Albert, Kumara 2007 —
    public): community detection, the third canonical graph operator
    next to connected components (connectivity) and PageRank
    (centrality). Each node starts with its own id as label; each round
    every node adopts the MOST FREQUENT label among its neighbors.

    Determinism (the textbook algorithm is run-order dependent; this
    formulation is not): updates are fully synchronous (round i+1 sees
    only round-i labels) and ties break total-ordered (count desc,
    label asc) — integer counts, no RNG, no partition dependence, so
    the DuckDB twin reproduces every round exactly.

    Scale: the edge list is symmetrized once; each round is ONE
    edges⋈labels equi-join on dst, a (node,label) count aggregate, and
    an argmax window partitioned by node (high-cardinality key — no
    task collapse). Labels localCheckpoint per round, the same
    linear-lineage device as pagerank. Shuffles carry (node,label)
    pairs only — never adjacency lists.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).distinct()
    # checkpoint + pre-partition by dst (the per-round join key): without
    # it every round re-expands the whole upstream edge derivation (e.g.
    # an SRP similarity build) in its plan AND re-shuffles it for the
    # dst-keyed join — same device as pagerank's src-partitioned edges
    # (r11, guide §2.4)
    und = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition(F.col("dst"))
        .transform(cache.checkpoint)
    )
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .transform(cache.checkpoint)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("label").asc())
    for _ in range(iters):
        neigh = und.join(labels, und.dst == labels.node).select(
            und.src.alias("node"), "label"
        )
        counts = neigh.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", "label")
            .transform(cache.checkpoint)
        )
    return labels
