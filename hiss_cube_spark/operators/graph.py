"""Fixed-iteration PageRank over an edge DataFrame.

Companion to the min-label connected components in ``clusters.py`` — the
second classic iterative-graph workload, expressed as a short driver loop of
DataFrame joins so Catalyst plans every iteration (no RDDs, no GraphX
dependency). The reference engine has no graph surface; this extends the
repo's curation toolkit (e.g. ranking interlinked web domains before
sampling a training mix).

Cross-engine exactness: per-iteration contributions are quantized to 9
decimals *before* the per-destination sum, and the sum runs in DECIMAL —
exact and order-independent — so a SQL oracle that unrolls the same number
of iterations reproduces the ranks bit-for-bit (same discipline as the
decimal-quantized IVW sums).

Scale shape: each iteration is one equi-join of the edge table against the
current rank vector (broadcast when the node set is small, shuffle-hash on
``src`` otherwise) plus one aggregation by ``dst`` — the textbook
distributed PageRank data flow. The driver loop only grows the *plan*
linearly in ``iterations``; for long chains, checkpoint every ~10 rounds
(same guidance as ``connected_components``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hiss_cube_spark.pins import pin, pin_narrow

__all__ = ["pagerank", "triangle_count", "bfs_hops", "label_propagation"]


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    scale: int = 9,
) -> DataFrame:
    """Rank nodes of the directed graph ``edges`` (``iterations`` rounds).

    Nodes are everything appearing as a source or destination. Ranks start
    uniform at ``1/N`` and update as

        rank'(v) = (1-d)/N + d · Σ_{u→v} round(rank(u)/outdeg(u), scale)

    (the simple variant: dangling-node mass is not redistributed, matching
    the unrolled SQL oracle). Returns ``(node, rank)`` with ``rank``
    rounded to ``scale`` decimals.
    """
    # pin the deduped edge list ONCE: nodes, outdegrees, and every
    # iteration re-reference it, and the caller's edge definition may be a
    # multi-table join — without the pin the audit counted 14 fact
    # scans for 3 iterations (iterative lineage re-derivation)
    e = pin(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()  # bounded: one scalar, needed for the base term
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    base = (1.0 - damping) / n_nodes

    ranks = nodes.select(
        "node", F.round(F.lit(1.0) / n_nodes, scale).alias("rank")
    )
    qdec = f"decimal(30,{scale})"
    for _ in range(iterations):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("rank") / F.col("outdeg"), scale)
                .cast(qdec)
                .alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("mass"))
        )
        # truncate the iteration's lineage: without this each round's
        # plan embeds every prior round's joins
        ranks = pin(
            nodes.join(contrib, "node", "left").select(
                "node",
                F.round(
                    F.lit(base)
                    + F.lit(damping)
                    * F.coalesce(F.col("mass").cast("double"), F.lit(0.0)),
                    scale,
                ).alias("rank"),
            )
        )
    return ranks


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    orient: str = "id",
) -> DataFrame:
    """(node, n_triangles) for an undirected graph given as an edge list.

    Compact-forward algorithm: undirect + dedupe the input, orient every
    edge from the "smaller" endpoint to the larger so each triangle
    {a,b,c} exists exactly once as the wedge a->b, b->c closed by a->c,
    then count closed wedges with two self-equi-joins and credit each of
    the three corners.

    ``orient="id"`` orders endpoints by node id — deterministic and
    oracle-reproducible in plain SQL. ``orient="degree"`` orders by
    (degree, id): the classic skew armor — a hub of degree d generates
    O(d^2) wedges under id ordering but only wedges among its
    higher-degree neighbors under degree ordering, which bounds the join
    fan-out by the graph's arboricity; same output, one extra degree
    aggregation + join. Use it when the graph has power-law hubs (web
    domains, citation graphs); the oracle pins the id variant.
    """
    # pin the directed list before the symmetrizing union (and, under
    # degree orientation, the degree aggregate) — each consumer branch
    # would otherwise re-run the caller's whole edge derivation
    e = pin_narrow(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
            F.col(src) != F.col(dst)
        )
    )
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    if orient == "degree":
        deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("_d"))
        ranked = (
            und.join(deg.select("a", F.col("_d").alias("_da")), "a")
            .join(
                deg.select(F.col("a").alias("b"), F.col("_d").alias("_db")), "b"
            )
            .where(
                (F.col("_da") < F.col("_db"))
                | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b")))
            )
            .select("a", "b")
        )
    else:
        ranked = und.where(F.col("a") < F.col("b"))
    # the oriented edge list is referenced by all three wedge legs —
    # pin it (it IS the algorithm's working set) or the whole upstream
    # edge derivation re-executes per leg (6 fact-table scans for a
    # 4-table edge definition)
    ranked = pin_narrow(ranked)
    w1 = ranked.select(F.col("a").alias("x"), F.col("b").alias("y"))
    w2 = ranked.select(F.col("a").alias("y"), F.col("b").alias("z"))
    w3 = ranked.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = w1.join(w2, "y").join(w3, ["x", "z"]).select("x", "y", "z")
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_node


def bfs_hops(
    edges: DataFrame,
    source: int,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Single-source shortest hop counts by frontier-expansion BFS — the
    bounded-depth reachability primitive (lineage walks, referral depth,
    network radius checks).

    Proper distributed BFS: each round joins only the NEW frontier against
    the edge table and anti-joins out already-settled nodes, so a node is
    visited once no matter how many paths reach it (no path explosion —
    the walk-then-min formulation the recursive-CTE oracle uses would
    enumerate paths). Rounds are a driver loop bounded by ``max_hops``
    with an early exit when the frontier empties; per-round cost is one
    equi-join + one anti-join, the same shape as `connected_components`.
    """
    spark = edges.sparkSession
    dist = spark.range(1).select(
        F.lit(source).cast("long").alias("node"), F.lit(0).cast("int").alias("hops")
    )
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges[src])
            .select(F.col(dst).cast("long").alias("node"))
            .distinct()
        )
        new = nxt.join(dist.select("node"), "node", "left_anti").select(
            "node", F.lit(h).cast("int").alias("hops")
        )
        # every round's frontier stays referenced by the result union, so
        # none can be released here; caller owns unpersist
        # (spark.catalog.clearCache), same convention as dedup.py
        new = new.persist()
        if new.isEmpty():
            break
        dist = dist.unionByName(new)
        frontier = new.select("node")
    return dist


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 2,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007), fully deterministic: labels start as node ids; each round every
    node takes the MODE of its neighbors' previous-round labels over the
    undirected graph, ties broken by the smallest label. A fixed iteration
    count with synchronous updates (instead of the paper's randomized
    asynchronous sweep) keeps the result engine-independent — the oracle
    unrolls the same rounds as CTEs, the `pagerank` precedent.

    Scale shape per round: one shuffle join (edges ⋈ labels on the
    neighbor key), one map-side-combining (node, label) count, one
    per-node argmax window over that bounded count table — the same
    per-round cost envelope as `connected_components`, with the same
    pinned lineage cut per round.

    Returns ``(node, community)``.
    """
    from pyspark.sql.window import Window

    # Pin the directed list once before symmetrizing: the union reads
    # its input through two branches of one action, which would compute
    # the caller's edge plan twice.
    de = pin_narrow(edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b")))
    und = pin(
        de.union(de.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    labels = und.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    w = Window.partitionBy("node").orderBy(F.desc("_n"), F.asc("label"))
    for _ in range(iterations):
        labels = pin(
            und.join(labels.withColumnRenamed("node", "b"), "b")
            .select(F.col("a").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("_n"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node", "label")
        )
    return labels.select("node", F.col("label").alias("community"))
