"""Near-duplicate cluster resolution: pairs → connected components → one
canonical document per cluster.

Every fuzzy-dedup path in this engine (`ngram_jaccard_pairs`,
`minhash_lsh_pairs`, `simhash_pairs`, `cosine_pairs`) emits *pairs* above a
similarity threshold. Deduplicating a corpus needs one more step: group the
pairs into transitive clusters and keep exactly one member of each — the
reference's analog is the target self-grouping that collapses co-located
spectra into one object (metadata_strategy_cube_ml.py:598-602), applied to
the similarity graph instead of the sky.

Algorithm: iterative min-label propagation. Each node starts labelled
with its own id; every iteration each node takes the min of its label and
its neighbors' labels; at fixpoint every node in a component carries the
component's min id. Which regime runs it follows the measured size of the
pinned edge list (`pins.collect_if_narrow`):

* driver — an edge list that stores at most one narrow partition (32 MB;
  a near-dup pair list is usually a few hundred rows) is collected once
  through Arrow and labelled in-process with vectorized numpy rounds, so
  the whole operator costs one Spark job instead of one per round;
* distributed — above that, per iteration one shuffle join (edges ⋈ labels
  on the neighbor key) plus one map-side-combining groupBy, with no
  driver-side graph state, so it scales to edge lists that don't fit on
  one machine. Lineage is cut with a pin every round — without it the
  plan doubles per iteration and py4j plan-build time blows up long
  before the data does.

Iteration count is the graph diameter; near-dup graphs are overwhelmingly
tiny cliques and short chains (diameter ≤ 3), so 2-4 rounds converge.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from hiss_cube_spark.pins import collect_if_narrow, pin, pin_narrow, release

__all__ = [
    "connected_components",
    "resolve_duplicates",
    "resolve_duplicates_best",
    "golden_records",
]


def _min_labels(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, component min node) of the undirected edges ``a[i]–b[i]``.

    Nodes become their sorted rank, so the min rank is the min id. Each
    round is vectorized: every edge pulls both ends to the smaller label,
    then pointer jumping (``label[label]``) skips along chains. A label
    is always a node of the same component and never above the node's
    own rank, so the fixpoint, where no edge joins two labels, is the
    component's min."""
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = inv[: len(a)], inv[len(a):]
    label = np.arange(len(nodes))
    while True:
        m = np.minimum(label[u], label[v])
        new = label.copy()
        np.minimum.at(new, u, m)
        np.minimum.at(new, v, m)
        new = new[new]
        if np.array_equal(new, label):
            return nodes, nodes[label]
        label = new


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    symmetric: bool = False,
    edges_materialized: bool = False,
) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``pairs``; cluster_id
    is the minimum node id of the connected component.

    Converges in diameter-many rounds and stops early as soon as a round
    changes nothing. ``symmetric=True`` declares that ``pairs`` already
    carries BOTH directions of every edge (e.g. DBSCAN's eps-graph),
    skipping the symmetrizing union. Edges with a null end are dropped: a
    null is not a node.

    Driver regime: when the pinned directed edge list stores at most one
    narrow partition (`pins.collect_if_narrow`), it is collected once
    through Arrow, labelled in-process (`_min_labels`), released, and the
    result is a local relation with the distributed path's schema; the
    rounds run no Spark job and ``max_iter`` does not apply (the
    in-process loop always reaches the fixpoint). ``symmetric=True`` and
    ``edges_materialized=True`` inputs are not pinned here, so nothing is
    measured and they always take the distributed loop.

    Distributed regime: raises if ``max_iter`` rounds don't reach the
    fixpoint (a diameter that large means the input is not a near-dup
    pair list). Per-round driver latency is ONE action: the round's label
    table is a lazy pin and the convergence probe is a full (non-limited)
    filtered ``count()`` over it — the count's scan is what materializes every
    pinned partition (a ``limit(1)`` probe would short-circuit and leave
    partitions uncomputed behind a truncated lineage). Once the count has
    run, the previous round's label pin is superseded and released; the
    edge pins are released on return, so only the result's pin stays.
    The initial labels are an eager pin: round 1's action reads them
    through two branches. ``edges`` is a lazy pin whose only consumer in
    its materializing action is the init-labels groupBy, so init folds the
    edge materialization into its own action; every later round reads the
    pinned blocks.

    The edge list is deliberately NOT deduplicated: min-label propagation
    is idempotent under duplicate edges (every aggregate here is a MIN),
    so the former ``distinct()`` was a pure extra shuffle — duplicate
    edges only re-probe a join hash slot. Callers all emit distinct pairs
    anyway; a caller with heavy duplication should dedup upstream.

    ``edges_materialized=True`` declares that ``pairs`` is already cheap
    to re-read (checkpointed / persisted blocks or a trivial derivation
    of them). Otherwise the directed edge list is pinned (eager, narrow)
    BEFORE the symmetrizing union: the union reads its input through two
    branches of one action, which would compute the caller's pair plan
    twice (measured 1.5-2x on the AllPairs-verify plan feeding
    dedup_clusters — one extra driver action buys half the pair
    compute).
    """
    edges = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).dropna()
    made = []
    if not symmetric:
        if not edges_materialized:
            edges = pin_narrow(edges)
            made.append(edges)
        # Undirected: propagate along both directions of every edge.
        und = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        local = None if edges_materialized else collect_if_narrow(edges)
        if local is not None:
            nodes, cluster = _min_labels(
                local.column("a").to_numpy(), local.column("b").to_numpy()
            )
            t = und.schema["a"].dataType
            return und.sparkSession.createDataFrame(
                pa.table({"node": nodes, "cluster_id": cluster}),
                StructType([StructField("node", t), StructField("cluster_id", t)]),
            )
        edges = und
    edges = pin(edges)
    made.append(edges)

    # Initial labels = min(self, direct neighbors): identical to one
    # propagation round from identity labels, but a single map-side-combining
    # groupBy with no join (every node appears as `a` after symmetrization).
    labels = pinned = pin(
        edges.groupBy("a")
        .agg(F.min("b").alias("_nb"))
        .select(F.col("a").alias("node"), F.least("a", "_nb").alias("label")),
        eager=True,
    )
    label_type = labels.schema["label"].dataType

    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .select(edges["a"].alias("node"), F.col("label"))
            .withColumn("_prev", F.lit(None).cast(label_type))
        )
        # Carry each node's previous label through the same aggregation
        # (only the node's own row has _prev set, and every node has one),
        # so convergence detection below is a narrow scan of the
        # checkpointed result — no second join, no second shuffle.
        new_labels = pin(
            labels.withColumn("_prev", F.col("label"))
            .unionByName(neighbor_min)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.max("_prev").alias("_prev"))
        )
        changed = new_labels.where(F.col("label") < F.col("_prev")).count()
        release(pinned)
        pinned = new_labels
        labels = new_labels.select("node", "label")
        if changed == 0:
            for df in made:
                release(df)
            return labels.select("node", F.col("label").alias("cluster_id"))
    raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")


def resolve_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Drop every near-duplicate except one canonical representative.

    Keeps: all rows of ``df`` that appear in no pair, plus the minimum-id
    member of each duplicate cluster. One anti-join against the (small)
    non-representative node set — ``df`` itself is never shuffled.
    """
    cc = connected_components(pairs, src=src, dst=dst)
    losers = cc.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def resolve_duplicates_best(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Keep the HIGHEST-``score_col`` member of each near-duplicate cluster
    (ties → smallest id) instead of `resolve_duplicates`' min-id rule —
    the curation-grade policy: when several near-copies exist, retain the
    best one (longest, highest quality score, newest), not the
    accidentally-lowest-keyed one.

    The cluster map comes from the same min-label propagation; the winner
    per cluster is one rank window over the (cluster-sized, tiny) member
    set joined with scores; everything else anti-joins away. ``df`` itself
    is never shuffled — only the member/loser sets move.
    """
    from pyspark.sql.window import Window

    cc = connected_components(pairs, src=src, dst=dst)
    members = cc.join(
        df.select(F.col(id_col).alias("node"), F.col(score_col).alias("_score")),
        "node",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("_score"), F.asc("node")
    )
    losers = (
        members.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") > 1)
        .select(F.col("node").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def golden_records(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    canon_col: str | None = None,
    mode_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Entity-resolution survivorship: fuse each duplicate cluster into one
    golden record, field by field.

    After matching (pairs) and clustering (connected components), the last
    ER step picks the surviving value PER FIELD rather than per record —
    the canonical id comes from the ``canon_col``-max member (ties →
    smallest id), categorical fields take their cluster-modal value over
    the NON-NULL members (ties → lexicographically smallest, so the fusion
    is deterministic; a cluster whose members are all NULL in that field
    fuses to NULL), and
    numeric fields take the cluster max. Singleton records need no fusion
    and are not emitted; union them back if a full golden table is wanted.

    Scale shape: the cluster map covers only matched nodes, so every
    aggregate below runs on the (small) member set, never the full ``df``;
    one member join + one groupBy per fusion rule, each shuffling on
    ``cluster_id`` (bounded by duplicate volume). No window over ``df``,
    no all-pairs work beyond what ``pairs`` already paid. Survivor picks
    are struct-ordered MIN aggregates, not row_number windows: an
    argmin/argmax is a map-side-combining aggregation (no per-partition
    sort, no post-shuffle window pass), and the canonical pick fuses into
    the SAME aggregation as ``n_members``/``max_cols`` — one exchange and
    one join fewer than the window formulation, same deterministic
    ordering (canon desc nulls-last, node asc; mode count desc, value asc).

    Returns one row per multi-member cluster: ``cluster_id``,
    ``canonical_<id_col>``, the fused ``mode_cols`` / ``max_cols`` (names
    preserved, max cols prefixed ``max_``), and ``n_members``.
    """
    from pyspark.sql.types import NumericType

    cc = connected_components(pairs, src=src, dst=dst)
    need = {id_col, *mode_cols, *max_cols}
    if canon_col:
        need.add(canon_col)
    # the final action reads members through 1 + len(mode_cols) subtrees
    members = pin(
        cc.join(
            df.select(*[F.col(c).alias("node" if c == id_col else c) for c in need]),
            "node",
        ),
        eager=bool(mode_cols),
    )

    agg = [F.count(F.lit(1)).cast("long").alias("n_members")] + [
        F.max(c).alias(f"max_{c}") for c in max_cols
    ]
    if canon_col:
        # argmax(canon_col, tie -> min node) as a single struct-min:
        # (canon IS NULL) ascending puts non-null canons first (the window
        # formulation's desc = NULLS LAST), the negated canon turns min
        # into max, node breaks ties ascending. Numeric canon only — the
        # only negation-free total-order inversion Spark offers; the
        # repo's callers fuse on numeric lengths/sizes.
        ctype = members.schema[canon_col].dataType
        if not isinstance(ctype, NumericType):
            raise TypeError(
                f"golden_records: canon_col {canon_col!r} must be numeric "
                f"(got {ctype.simpleString()})"
            )
        agg.append(
            F.min(
                F.struct(
                    F.col(canon_col).isNull().alias("_isnull"),
                    F.coalesce(-F.col(canon_col), F.lit(0)).alias("_neg"),
                    F.col("node").alias("_id"),
                )
            )["_id"].alias(f"canonical_{id_col}")
        )
    out = members.groupBy("cluster_id").agg(*agg)
    if canon_col:
        # keep the historical column order (canonical before the fused cols)
        out = out.select(
            "cluster_id",
            "n_members",
            *[f"max_{c}" for c in max_cols],
            f"canonical_{id_col}",
        )

    for c in mode_cols:
        # NULLs are excluded from the mode CANDIDATE set: Spark's ASC is
        # NULLS FIRST while ANSI engines default NULLS LAST, so a NULL in
        # the tie-break (or a NULL winning the count outright on a
        # null-heavy column) would fuse engine-dependently. A member with
        # no value recorded casts no vote; a cluster where EVERY member is
        # NULL keeps the row (left join) and fuses to NULL explicitly.
        # Mode = struct-min over the (count, value) table: count desc via
        # negation (counts are positive longs), value asc — the same
        # deterministic pick as the former row_number window, without the
        # per-cluster sort.
        mode = (
            members.where(F.col(c).isNotNull())
            .groupBy("cluster_id", c)
            .agg(F.count(F.lit(1)).alias("_n"))
            .groupBy("cluster_id")
            .agg(
                F.min(
                    F.struct((-F.col("_n")).alias("_negn"), F.col(c).alias("_v"))
                )["_v"].alias(c)
            )
        )
        out = out.join(mode, "cluster_id", "left")
    return out
