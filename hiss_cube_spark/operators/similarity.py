"""Similarity search over embedding columns (array<float>).

* :func:`cosine_topk` — exact brute-force top-k: broadcast the (small) query
  set, one pass over the corpus, per-query window top-k. The right baseline
  shape at any scale when |queries| ≪ |corpus|.
* :func:`cosine_pairs` — all corpus pairs above a cosine threshold
  (embedding near-dup dedup). Exact; uses sign-LSH blocking at scale.
* :func:`lsh_bucketed_topk` — random-hyperplane LSH buckets + exact rerank:
  the 100 TB path (candidates only from matching buckets; recall tunable via
  n_planes/probes).

Dot products use integer-quantized accumulation when ``exact=True`` so the
result is reduction-order independent (oracle parity): each per-element
product (exact in double for float32 inputs) is floored at 1e-12 resolution
to a long and the longs sum exactly in any order. 4x faster than the
previous decimal(38,20) accumulator and within 1e-10 of the true cosine —
far inside the round(,6) output quantum. The default double path is the
plain float benchmark shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from hiss_cube_spark.functions.arrays import array_dot, array_l2_norm
from hiss_cube_spark.pins import pin, pin_narrow

__all__ = [
    "hard_negatives",
    "cosine_topk", "cosine_pairs", "cosine_pairs_blocked", "lsh_bucketed_topk",
    "cosine_expr", "pq_topk", "ivf_topk", "ivf_pq_topk",
    "semantic_dedup", "sq_quantize", "sq_topk", "random_projection", "whiten",
    "dbscan_embeddings", "kmeans_cosine", "cluster_prototypes",
]


_DOT_SCALE = 1e12  # quantization grid for order-independent dot products


def _dot_exact(a: Column, b: Column) -> Column:
    """Order-independent dot product: per-element products (exact in double
    for float32 inputs) floored onto a 1e-12 grid and summed as longs.

    Integer sums are exact in any reduction order, and ``floor`` truncates
    identically in Spark and DuckDB (double→long CAST would not: Spark
    truncates, DuckDB rounds). Headroom: |prod| ≤ 16 → ≤ 1.6e13 per element,
    1e15 over 64 elements — far under int64.
    """
    prods = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(x.cast("double") * y.cast("double") * F.lit(_DOT_SCALE)).cast("long"),
    )
    return (
        F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x) / F.lit(_DOT_SCALE)
    )


def cosine_expr(a: Column, b: Column, exact: bool = False) -> Column:
    """Cosine similarity expression; ``exact`` = cross-engine deterministic."""
    if exact:
        return _dot_exact(a, b) / (F.sqrt(_dot_exact(a, a)) * F.sqrt(_dot_exact(b, b)))
    denom = array_l2_norm(a) * array_l2_norm(b)
    return F.when(denom > 0, array_dot(a, b) / denom)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Broadcast-join the queries against the corpus (no shuffle of the corpus),
    then rank within each query. Ties broken by corpus id for determinism.
    """
    # Precompute per-vector norms before the join: one norm per vector
    # instead of two per candidate pair (3× less dot-product work).
    def _norm(v: Column) -> Column:
        return F.sqrt(_dot_exact(v, v)) if exact else array_l2_norm(v)

    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    dot = _dot_exact(F.col("_qv"), F.col("_cv")) if exact else array_dot(F.col("_qv"), F.col("_cv"))
    sim = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", dot / (F.col("_qn") * F.col("_cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    label_col: str = "label",
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
) -> DataFrame:
    """Top-k most-similar corpus vectors with a DIFFERENT label per query —
    contrastive-training hard-negative mining (the pairs that teach an
    embedding model the most, Robinson et al. 2021).

    Same data flow as `cosine_topk` (broadcast queries, rank within query,
    deterministic id tie-break) with the label-mismatch predicate pushed
    into the join, so same-label candidates never reach the ranking window.
    At scale, swap the brute-force join for the IVF/LSH candidate stage and
    keep this label predicate on the probe join — the mining semantics
    stay identical.
    """

    def _norm(v: Column) -> Column:
        return F.sqrt(_dot_exact(v, v)) if exact else array_l2_norm(v)

    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(label_col).alias("_ql"),
        F.col(vec_col).alias("_qv"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(label_col).alias("neg_label"),
        F.col(vec_col).alias("_cv"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    dot = _dot_exact(F.col("_qv"), F.col("_cv")) if exact else array_dot(F.col("_qv"), F.col("_cv"))
    sim = c.join(
        F.broadcast(q),
        (F.col("query_id") != F.col("neighbor_id"))
        & (F.col("_ql") != F.col("neg_label")),
    ).withColumn("cosine", dot / (F.col("_qn") * F.col("_cn")))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "neg_label", "cosine")
    )


def sq_scale(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """One-row DataFrame holding the corpus-wide SQ8 scale stat ``_mx``
    (max absolute component). Train once on the corpus, then apply the
    same grid to corpus AND queries via ``sq_quantize(..., stats=...)``."""
    v = F.col(vec_col)
    return df.agg(
        F.max(F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))).alias("_mx")
    )


def sq_quantize(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    out_col: str = "code",
    stats: DataFrame | None = None,
) -> DataFrame:
    """SYMMETRIC int8 scalar quantization: one corpus-wide scale
    Δ = max|v|/127, each component mapped to
    ``clamp(floor(v/Δ), −127, 127)`` — the FAISS-style SQ8 used for a 4×
    memory/IO cut.

    Symmetric-global (not per-dim affine) is load-bearing for SEARCH: the
    code map is LINEAR, so the integer code dot equals Δ²·(true dot) up to
    quantization noise and ranking by code dot is monotone in the real
    score. A per-dim min/max affine map adds a candidate-dependent bias
    term (Σ offset_d·c_d) to every dot that swamps the signal — measured
    corr(code_dot, true_dot) ≈ 0.12 on random 64-d vectors vs ≈ 1.0 here.

    Every op (abs/div/mul/floor) is correctly-rounded IEEE, so the codes
    are bit-identical across engines. The scale is ONE scalar aggregate
    broadcast back onto the scan; quantization is a free map. ``dim`` is
    kept for signature stability (the scale is dimension-free).
    """
    v = F.col(vec_col)
    if stats is None:
        stats = sq_scale(df, vec_col)

    def _code(x: Column) -> Column:
        return (
            F.when(
                F.col("_mx") > 0,
                F.greatest(
                    F.lit(-127).cast("long"),
                    F.least(
                        F.lit(127).cast("long"),
                        F.floor(x.cast("double") / F.col("_mx") * F.lit(127.0)),
                    ),
                ),
            )
            .otherwise(F.lit(0).cast("long"))
            .cast("int")
        )

    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(out_col, F.transform(v, _code))
        .drop("_mx")
    )


def sq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors scored on int8 scalar-quantized codes (SQ8 ANN).

    The rank key is the INTEGER dot product of the codes (≤ 255²·dim per
    pair — exact in int64), so scoring, ranking, and the emitted ``dot_q``
    are deterministic to the bit in any engine and any reduction order —
    the one ANN variant with a value-exact oracle. Codes come from
    `sq_quantize` with the scale trained on the CORPUS and applied to
    queries and corpus alike (queries carry their own ``vec_col``, so
    query ids need not exist in the corpus); the join broadcasts the
    quantized queries, the corpus streams through at 1/4 the float32
    footprint, and ranking is the usual per-query window with id
    tie-break. In production the corpus codes are a materialized index,
    written once per snapshot and reused across query batches.
    """
    stats = sq_scale(corpus, vec_col)
    q = sq_quantize(queries, dim, vec_col=vec_col, out_col="_qc", stats=stats).select(
        F.col(query_id).alias("query_id"), "_qc"
    )
    c = sq_quantize(corpus, dim, vec_col=vec_col, out_col="_cc", stats=stats).select(
        F.col(corpus_id).alias("neighbor_id"), "_cc"
    )
    dot = F.aggregate(
        F.zip_with(F.col("_qc"), F.col("_cc"), lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sim = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).withColumn(
        "dot_q", dot
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot_q").desc(), F.col("neighbor_id").asc())
    return (
        sim.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "dot_q")
    )


def cosine_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    use_lsh_blocking: bool = False,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """All (a < b) corpus pairs with cosine ≥ threshold.

    Without blocking this is the exact quadratic reference; with
    ``use_lsh_blocking`` pairs are generated only within sign-LSH buckets
    (approximate, scales to big corpora).
    """
    def _norm(v: Column) -> Column:
        return F.sqrt(_dot_exact(v, v)) if exact else array_l2_norm(v)

    c = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), _norm(F.col(vec_col)).alias("nrm")
    )
    if use_lsh_blocking:
        c = c.withColumn("_bucket", _sign_bucket("v", n_planes, seed))
        a, b = c.alias("a"), c.alias("b")
        pairs = a.join(
            b, (F.col("a._bucket") == F.col("b._bucket")) & (F.col("a.id") < F.col("b.id"))
        )
    else:
        a, b = c.alias("a"), c.alias("b")
        pairs = a.join(b, F.col("a.id") < F.col("b.id"))
    dot = (
        _dot_exact(F.col("a.v"), F.col("b.v")) if exact else array_dot(F.col("a.v"), F.col("b.v"))
    )
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (dot / (F.col("a.nrm") * F.col("b.nrm"))).alias("cosine"),
        )
        .where(F.col("cosine") >= F.lit(threshold))
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _sign_bucket(vec: str, n_planes: int, seed: int, dim: int = 64) -> Column:
    """Sign-LSH bucket id: bit i = sign(vec · plane_i). ``vec`` is the
    COLUMN NAME of the vector array.

    The whole bucket expression is parsed from ONE SQL string — plane
    literals, dots, and the bit sum included. repr() doubles round-trip
    exactly through the SQL parser, and a single ``F.expr`` replaces
    ~n_planes × dim py4j round-trips: column build measured 1.0 s → ~30 ms
    at 6 planes × 64 dims (driver plan-construction time, paid per query
    build on every bench attempt and on every real-cluster submission).
    """
    planes = _hyperplanes(dim, n_planes, seed)
    terms = []
    for i, p in enumerate(planes):
        arr = "array(" + ",".join(f"{x!r}D" for x in p) + ")"
        dot = (
            f"aggregate(zip_with(`{vec}`, {arr}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
            "(acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0.0D THEN {1 << i}L ELSE 0L END)")
    return F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))


def cosine_pairs_blocked(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """All (a < b) pairs with cosine ≥ threshold — blocked numpy matmul.

    Same exact quantized-dot semantics as ``cosine_pairs(exact=True)``
    (per-element double product × 1e12, floor to int64, exact integer sum —
    numpy's float64 ops are the same IEEE operations, so results are
    bit-identical), but the O(n²·d) inner loop runs as vectorized numpy
    instead of interpreted Catalyst lambdas: measured 31 s → ~2 s on
    2000×64 at sf0.1.

    Distribution: vectors are assigned a block by hashed id; each vector is
    replicated to every block-pair (i ≤ j) it belongs to and
    ``applyInPandas`` computes one block-pair per group — no driver
    collect, one shuffle of n_blocks copies. All-pairs work is inherently
    quadratic; choose n_blocks so a block pair (~2·n/n_blocks vectors)
    fits a task: n_blocks ≈ n·d·8 / target_block_bytes. At 100 TB the same
    kernel runs after LSH/IVF blocking rather than over raw block pairs.
    """
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    v = corpus.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_v"), blk.alias("_blk")
    )
    # Replicate each vector to every block-pair it belongs to: block b joins
    # pairs (min(i,b), max(i,b)) for i in 0..n_blocks-1 — n_blocks distinct
    # keys per vector, one shuffle total.
    bp = F.array(
        *[
            F.struct(
                F.least(F.lit(i), F.col("_blk")).alias("i"),
                F.greatest(F.lit(i), F.col("_blk")).alias("j"),
            )
            for i in range(n_blocks)
        ]
    )
    pairs = v.select("_id", "_v", "_blk", F.explode(bp).alias("_bp")).select(
        "_id", "_v", "_blk", F.col("_bp.i").alias("_i"), F.col("_bp.j").alias("_j")
    )

    def _block(pdf):
        import numpy as _np
        import pandas as _pd

        empty = _pd.DataFrame(
            {"id_a": _pd.Series(dtype="int64"), "id_b": _pd.Series(dtype="int64"),
             "cosine": _pd.Series(dtype="float64")}
        )
        i = int(pdf["_i"].iloc[0])
        j = int(pdf["_j"].iloc[0])
        a = pdf[pdf["_blk"] == i]
        b = pdf[pdf["_blk"] == j] if j != i else a
        if len(a) == 0 or len(b) == 0:
            return empty
        ma = _np.stack(a["_v"].to_numpy()).astype(_np.float64)
        mb = _np.stack(b["_v"].to_numpy()).astype(_np.float64)
        ia = a["_id"].to_numpy()
        ib = b["_id"].to_numpy()
        # quantized dots: floor(x*y*1e12) per element, exact int64 sums —
        # bit-identical to the Catalyst/DuckDB expression
        dots = (
            _np.floor(ma[:, None, :] * mb[None, :, :] * 1e12).astype(_np.int64).sum(axis=2)
            / 1e12
        )
        nrm_a = _np.sqrt(_np.floor(ma * ma * 1e12).astype(_np.int64).sum(axis=1) / 1e12)
        nrm_b = _np.sqrt(_np.floor(mb * mb * 1e12).astype(_np.int64).sum(axis=1) / 1e12)
        cos = dots / (nrm_a[:, None] * nrm_b[None, :])
        if i == j:
            # same block on both sides: each unordered pair appears twice —
            # keep the id_a < id_b orientation
            keep = (ia[:, None] < ib[None, :]) & (cos >= threshold)
            ra, rb = _np.nonzero(keep)
            id_a, id_b = ia[ra], ib[rb]
        else:
            # distinct blocks: each unordered pair appears once, in arbitrary
            # id order — orient to (min, max)
            ra, rb = _np.nonzero(cos >= threshold)
            id_a = _np.minimum(ia[ra], ib[rb])
            id_b = _np.maximum(ia[ra], ib[rb])
        return _pd.DataFrame(
            {"id_a": id_a.astype("int64"), "id_b": id_b.astype("int64"), "cosine": cos[ra, rb]}
        )

    return pairs.groupBy("_i", "_j").applyInPandas(_block, schema=out_schema)


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates from the query's LSH bucket, exact rerank.

    At 100 TB the corpus is written bucketed by ``_bucket`` (bucketBy /
    partitionBy) so a query touches one bucket's files only. Multi-probe
    (flipping one plane bit) would raise recall; kept single-probe here.
    """
    c = corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("_cv")).withColumn(
        "_bucket", _sign_bucket("_cv", n_planes, seed)
    )
    q = queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv")).withColumn(
        "_bucket", _sign_bucket("_qv", n_planes, seed)
    )
    sim = (
        c.join(F.broadcast(q), "_bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_expr(F.col("_qv"), F.col("_cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 2,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans-coarse-quantize the
    corpus, search only the ``n_probe`` nearest cells per query.

    The scale path beyond sign-LSH: centroids come from seeded MLlib KMeans
    (deterministic); the corpus is written/bucketed by ``cell`` so a query
    touches n_probe/n_cells of the data. Exact rerank inside probed cells.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql.window import Window as W

    cv = corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    train = cv.select(array_to_vector(F.col("_cv")).alias("features"))
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(train)
    centers = [c.tolist() for c in model.clusterCenters()]

    def _cell_scores(vname: str) -> Column:
        # squared L2 distance to each centroid, as an array — parsed from
        # ONE SQL string (repr() doubles round-trip exactly) instead of
        # n_cells × dim F.lit py4j round-trips (the _sign_bucket precedent)
        cells = ",".join(
            (
                f"aggregate(zip_with(`{vname}`, "
                "array(" + ",".join(f"{float(x)!r}D" for x in c) + "), "
                "(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
                "0.0D, (acc, x) -> acc + x)"
            )
            for c in centers
        )
        return F.expr(f"array({cells})")

    c_assigned = (
        cv.withColumn("_d", _cell_scores("_cv"))
        .withColumn("cell", F.expr("array_position(_d, array_min(_d)) - 1").cast("int"))
        .drop("_d")
    )

    probes = F.expr(
        "slice(transform(array_sort(transform(sequence(0, size(_d)-1), "
        "i -> struct(_d[i] AS d, i AS idx))), s -> s.idx), 1, "
        f"{n_probe})"
    )
    q = (
        queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv"))
        .withColumn("_d", _cell_scores("_qv"))
        .select("query_id", "_qv", F.explode(probes).alias("cell"))
        .withColumn("cell", F.col("cell").cast("int"))
    )

    sim = (
        c_assigned.join(F.broadcast(q), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_expr(F.col("_qv"), F.col("_cv")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )



def _kmeans_np(X, k: int, max_iter: int):
    """Deterministic Lloyd k-means: init = first k sample rows (cycled if the
    sample is short), empty clusters keep their previous center."""
    C = np.resize(X[: min(k, len(X))], (k, X.shape[1])).astype(np.float64)
    for _ in range(max_iter):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(0)
    return C


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    m: int = 8,
    n_centroids: int = 16,
    rerank_factor: int = 4,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int = 2048,
    max_iter: int = 10,
) -> DataFrame:
    """Product-quantization approximate top-k with exact rerank — the
    memory-compression leg of the ANN triad (sign-LSH prunes candidates,
    IVF prunes cells, PQ shrinks every stored vector to ``m`` byte-sized
    codes, a 32x reduction for 64-dim float32 at m=8).

    Pipeline: (1) train per-subspace codebooks with deterministic Lloyd
    k-means on a bounded, id-ordered sample (codebook training at 100 TB is
    always sample-based — the sample bound, not the corpus, caps driver
    memory); (2) encode the corpus once via an Arrow-batched UDF into
    ``array<int>`` codes — at scale this encoded table is what you persist,
    it is ~dim*4/m smaller than the vectors; (3) answer queries by
    asymmetric distance computation: each query precomputes an (m x
    n_centroids) partial-dot table, broadcast to the scan, and the
    approximate score is m array lookups summed by a native JVM expression
    — no Python in the per-row hot path; (4) exact-cosine rerank of the top
    ``k * rerank_factor`` approximate candidates (fetches true vectors for
    only ~k*factor rows per query).

    Vectors are L2-normalized on both sides, so approximate dot == cosine.
    """
    dim = corpus.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    d_sub = dim // m

    sample = (
        corpus.select(F.col(corpus_id).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(train_sample)
        .collect()
    )
    X = np.array([r["v"] for r in sample], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    codebooks = np.stack(
        [_kmeans_np(X[:, j * d_sub : (j + 1) * d_sub], n_centroids, max_iter) for j in range(m)]
    )  # (m, n_centroids, d_sub)
    bc = corpus.sparkSession.sparkContext.broadcast(codebooks)

    @pandas_udf("array<int>")
    def _encode(vs: pd.Series) -> pd.Series:
        C = bc.value
        V = np.stack(vs.to_numpy()).astype(np.float64)
        V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        codes = np.empty((len(V), C.shape[0]), dtype=np.int32)
        for j in range(C.shape[0]):
            sub = V[:, j * d_sub : (j + 1) * d_sub]
            codes[:, j] = ((sub[:, None, :] - C[j][None, :, :]) ** 2).sum(-1).argmin(1)
        return pd.Series(list(codes))

    @pandas_udf("array<array<double>>")
    def _adc_tables(vs: pd.Series) -> pd.Series:
        C = bc.value
        out = []
        for v in vs.to_numpy():
            v = np.asarray(v, dtype=np.float64)
            v = v / max(np.linalg.norm(v), 1e-300)
            out.append(
                [list(C[j] @ v[j * d_sub : (j + 1) * d_sub]) for j in range(C.shape[0])]
            )
        return pd.Series(out)

    enc = corpus.select(F.col(corpus_id).alias("neighbor_id"), _encode(F.col(vec_col)).alias("codes"))
    qt = queries.select(F.col(query_id).alias("query_id"), _adc_tables(F.col(vec_col)).alias("tbl"))

    approx = (
        enc.crossJoin(F.broadcast(qt))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "approx",
            F.expr(
                f"aggregate(sequence(0, {m - 1}), CAST(0.0 AS DOUBLE), "
                "(acc, j) -> acc + tbl[j][codes[j]])"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("approx").desc(), F.col("neighbor_id").asc())
    cands = (
        approx.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= k * rerank_factor)
        .select("query_id", "neighbor_id")
    )

    cv = corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    qv = queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv"))
    rer = (
        cands.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cosine", cosine_expr(F.col("_qv"), F.col("_cv")))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 8,
    n_centroids: int = 16,
    rerank_factor: int = 4,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int = 2048,
    max_iter: int = 10,
) -> DataFrame:
    """IVF-PQ combined index (the FAISS IVFPQ architecture): coarse KMeans
    cells bound WHICH rows a query scans (n_probe/n_cells of the corpus),
    and product-quantized RESIDUALS (v − cell centroid) bound what each
    scanned row costs (m byte codes + table lookups). The two prunings
    compose: at 100 TB the encoded table is written bucketed by ``cell``,
    a query reads n_probe buckets of ~dim·4/m-compressed rows, and the
    per-row score is a native JVM ``aggregate`` over broadcast tables.

    For inner product on L2-normalized vectors the score decomposes as
    q·v = q·c_cell + q·r, so each probed (query, cell) pair carries one
    scalar bias and the SAME per-query subspace tables serve every cell
    (shared residual codebooks). Candidates get an exact-cosine rerank of
    the top k·rerank_factor — the standard recall repair.

    Training (coarse + residual codebooks) runs on a bounded id-ordered
    sample, like ``pq_topk`` — the sample cap, not the corpus, bounds
    driver memory.
    """
    dim = corpus.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    d_sub = dim // m

    sample = (
        corpus.select(F.col(corpus_id).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(train_sample)
        .collect()
    )
    X = np.array([r["v"] for r in sample], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    coarse = _kmeans_np(X, n_cells, max_iter)  # (n_cells, dim)
    assign = ((X[:, None, :] - coarse[None, :, :]) ** 2).sum(-1).argmin(1)
    R = X - coarse[assign]
    codebooks = np.stack(
        [_kmeans_np(R[:, j * d_sub : (j + 1) * d_sub], n_centroids, max_iter) for j in range(m)]
    )  # (m, n_centroids, d_sub)
    bc = corpus.sparkSession.sparkContext.broadcast((coarse, codebooks))

    @pandas_udf("cell int, codes array<int>")
    def _encode(vs: pd.Series) -> pd.DataFrame:
        Cc, Cp = bc.value
        V = np.stack(vs.to_numpy()).astype(np.float64)
        V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        cell = ((V[:, None, :] - Cc[None, :, :]) ** 2).sum(-1).argmin(1)
        Rv = V - Cc[cell]
        codes = np.empty((len(V), Cp.shape[0]), dtype=np.int32)
        for j in range(Cp.shape[0]):
            sub = Rv[:, j * d_sub : (j + 1) * d_sub]
            codes[:, j] = ((sub[:, None, :] - Cp[j][None, :, :]) ** 2).sum(-1).argmin(1)
        return pd.DataFrame({"cell": cell.astype(np.int32), "codes": list(codes)})

    @pandas_udf("cells array<int>, biases array<double>, tbl array<array<double>>")
    def _qprep(vs: pd.Series) -> pd.DataFrame:
        Cc, Cp = bc.value
        cells_out, biases_out, tbl_out = [], [], []
        for v in vs.to_numpy():
            q = np.asarray(v, dtype=np.float64)
            q = q / max(np.linalg.norm(q), 1e-300)
            d2 = ((q[None, :] - Cc) ** 2).sum(-1)
            probes = np.argsort(d2, kind="stable")[:n_probe]
            cells_out.append([int(c) for c in probes])
            biases_out.append([float(Cc[c] @ q) for c in probes])
            tbl_out.append(
                [list(Cp[j] @ q[j * d_sub : (j + 1) * d_sub]) for j in range(Cp.shape[0])]
            )
        return pd.DataFrame({"cells": cells_out, "biases": biases_out, "tbl": tbl_out})

    enc = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), _encode(F.col(vec_col)).alias("_e")
    ).select("neighbor_id", F.col("_e.cell").alias("cell"), F.col("_e.codes").alias("codes"))

    q = (
        queries.select(F.col(query_id).alias("query_id"), _qprep(F.col(vec_col)).alias("_p"))
        .select(
            "query_id",
            F.col("_p.tbl").alias("tbl"),
            F.explode(F.arrays_zip(F.col("_p.cells"), F.col("_p.biases"))).alias("_cb"),
        )
        .select(
            "query_id",
            "tbl",
            F.col("_cb.cells").alias("cell"),
            F.col("_cb.biases").alias("bias"),
        )
    )

    approx = (
        enc.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "approx",
            F.col("bias")
            + F.expr(
                f"aggregate(sequence(0, {m - 1}), CAST(0.0 AS DOUBLE), "
                "(acc, j) -> acc + tbl[j][codes[j]])"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("approx").desc(), F.col("neighbor_id").asc())
    cands = (
        approx.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= k * rerank_factor)
        .select("query_id", "neighbor_id")
    )

    cv = corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    qv = queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv"))
    rer = (
        cands.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cosine", cosine_expr(F.col("_qv"), F.col("_cv")))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


# applyInPandas closures must ship by value when the package isn't importable
# on executor Python workers (harness runs from a foreign cwd).
from hiss_cube_spark._serde import register_self as _register_self  # noqa: E402

_register_self(__name__)


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate removal via
    cluster-then-compare. KMeans partitions the embedding space into
    ``n_cells``; cosine pairs are generated ONLY within a cell; each
    near-dup component keeps its minimum id. Pairs straddling a cell
    boundary are missed — the published algorithm's accepted trade for
    turning an O(n²) comparison into Σ O(|cell|²).

    Scale shape: the cell assignment is one native-expression map (centroid
    literals, no join); the within-cell self-join shuffles each cell to one
    place — cells are corpus/n_cells on average, and n_cells grows with the
    corpus (FAISS-style √n rule) to bound |cell|². Cluster resolution and
    the final anti-join reuse the exact-dedup machinery.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from hiss_cube_spark.operators.clusters import resolve_duplicates

    cv = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if n_cells is None:
        # FAISS √n rule: keeps E[|cell|²]·n_cells ≈ n^1.5, the knob that
        # makes the within-cell self-join tractable as the corpus grows
        # (measured: 20k vectors, 8 cells → 147 s; √n≈141 cells → ~8 s)
        n_cells = max(8, min(4096, int(cv.count() ** 0.5)))
    feats = cv.withColumn("features", array_to_vector(F.col("v")))
    # train on a bounded deterministic sample (the PQ-codebook precedent):
    # KMeans cost is O(n·k·d·iters) and k grows as √n — unsampled training
    # becomes the bottleneck long before the within-cell joins do
    train = feats.orderBy("id").limit(32_768)
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(train)
    # model.transform assigns cells JVM-side; at √n cells a literal
    # distance expression would carry n_cells × dim literals through
    # codegen (plan bloat), so unlike ivf_topk we keep the model in play
    # both sides of the within-cell self-join read this — pin it so the
    # KMeans assignment pass runs once, not once per side
    assigned = pin(
        model.transform(feats)
        .withColumnRenamed("prediction", "cell")
        .withColumn("nrm", array_l2_norm(F.col("v")))
        .select("id", "v", "cell", "nrm"),
        eager=True,
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (
                array_dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= F.lit(threshold))
    )
    return resolve_duplicates(
        corpus, pairs, id_col=id_col, src="id_a", dst="id_b"
    )


def random_projection(
    df: DataFrame,
    out_dim: int,
    in_dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: float = 1e6,
) -> DataFrame:
    """Johnson–Lindenstrauss sign projection: reduce ``in_dim`` → ``out_dim``
    with a ±1 matrix derived from an integer hash of (input-dim, output-dim)
    — the Achlioptas-style sparse/sign JL transform, with the matrix a pure
    FUNCTION instead of a stored array, so nothing ships to executors and
    any engine regenerates it bit-identically.

    Components quantize to a 1e-6 grid first, so each projection is an
    exact integer sum (`proj_q`; divide by ``quant`` for the value) —
    order-independent and engine-exact. Zero shuffle: one row-local nested
    `transform`/`aggregate` expression per vector; at 100 TB this is a free
    map that feeds LSH/clustering at out_dim/in_dim of the width.

    Production variant: seeded Gaussian planes give slightly better
    distance preservation; sign-JL keeps the ±1 guarantee (Achlioptas
    2003) and stays integer-exact, which is why it is the default here.
    """
    vq = lambda d: F.floor(  # noqa: E731
        F.element_at(F.col(vec_col), d + F.lit(1)).cast("double") * F.lit(quant)
    ).cast("long")
    sign = lambda d, j: F.when(  # noqa: E731
        ((d * F.lit(2654435761) + j * F.lit(40503)) / F.lit(8)).cast("long") % 2 == 0,
        F.lit(1).cast("long"),
    ).otherwise(F.lit(-1).cast("long"))
    proj = F.transform(
        F.sequence(F.lit(0), F.lit(out_dim - 1)),
        lambda j: F.aggregate(
            F.sequence(F.lit(0), F.lit(in_dim - 1)),
            F.lit(0).cast("long"),
            lambda acc, d: acc + sign(d, j) * vq(d),
        ),
    )
    return df.select(F.col(id_col), proj.alias("proj_q"))


def whiten(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    eps: float = 1e-5,
) -> DataFrame:
    """ZCA whitening of an embedding column: x ↦ W·(x − μ) with
    W = (Σ + εI)^(−1/2) — decorrelates dimensions and equalizes variance,
    the standard retrieval-quality fix for anisotropic embedding spaces
    (whitening-BERT shape).

    Scale shape: Σ and μ come from ONE distributed pass — each partition
    emits a single (n, Σx, Σxxᵀ) row via `mapInPandas` (numpy einsum), so
    the driver collects O(partitions · dim²) floats, NOT data. The dim×dim
    eigendecomposition runs driver-side (bounded by dim, not rows) and the
    resulting W broadcasts back into an Arrow-batched matmul — a linear
    map over the corpus, no shuffle.

    Float parity note: eigendecomposition is deterministic per
    machine/BLAS but not bit-portable across engines — this operator is
    validated by its mathematical contract (whitened sample covariance ≈ I,
    see the unit test), not a SQL oracle.
    """
    import numpy as np
    import pandas as pd

    def _partial(batches):
        n = 0
        s = np.zeros(dim, dtype=np.float64)
        ss = np.zeros((dim, dim), dtype=np.float64)
        for pdf in batches:
            m = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if len(m):
                n += m.shape[0]
                s += m.sum(axis=0)
                ss += m.T @ m
        yield pd.DataFrame(
            {"n": [n], "s": [s.tolist()], "ss": [ss.reshape(-1).tolist()]}
        )

    parts = df.select(vec_col).mapInPandas(
        _partial, schema="n long, s array<double>, ss array<double>"
    ).collect()  # bounded: one row per partition of O(dim^2) floats
    n = sum(p["n"] for p in parts)
    s = np.sum([np.asarray(p["s"]) for p in parts], axis=0)
    ss = np.sum([np.asarray(p["ss"]).reshape(dim, dim) for p in parts], axis=0)
    mu = s / n
    cov = ss / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)
    w = (evecs * (1.0 / np.sqrt(evals + eps))) @ evecs.T  # ZCA: U Λ^-1/2 Uᵀ

    spark = df.sparkSession
    bw = spark.sparkContext.broadcast((w, mu))

    @pandas_udf("array<float>")
    def _apply(col: pd.Series) -> pd.Series:
        wm, mm = bw.value
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in col])
        out = (m - mm) @ wm.T
        return pd.Series([row.astype(np.float32).tolist() for row in out])

    return df.select(F.col(id_col), _apply(F.col(vec_col)).alias("whitened"))


def dbscan_embeddings(
    corpus: DataFrame,
    threshold: float = 0.35,
    min_pts: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocked: bool = True,
    pairs: DataFrame | None = None,
    use_lsh_blocking: bool = False,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """DBSCAN over embedding space with cosine >= ``threshold`` as the
    eps-neighborhood (Ester et al. 1996, the density-based complement to
    KMeans-cell SemDeDup: finds arbitrarily-shaped dense regions and
    labels sparse outliers as noise — duplicate nests and junk clusters in
    a training corpus are exactly such regions).

    Returns (id, role, cluster_id): role in {'core', 'border', 'noise'},
    cluster_id = the minimum CORE id of the density-connected component
    (NULL for noise). Border points attach to their minimum-labelled core
    neighbor — the deterministic resolution of DBSCAN's classic
    border-assignment ambiguity, so results are engine-exact.

    Plan shape: DBSCAN only ever sees a pair list, so the eps-graph source
    is pluggable — the 100 TB path is sub-quadratic by construction:

    * ``pairs=<DataFrame>`` — bring your own (id_a, id_b) eps-graph, e.g.
      from `minhash_lsh_pairs` or `semantic_dedup`'s cell pairs;
    * ``use_lsh_blocking=True`` — sign-LSH bucketed `cosine_pairs`
      (pairs generated only within LSH buckets — approximate recall,
      never all-pairs; the scale default for big corpora);
    * default — the exact blocked numpy kernel (`cosine_pairs_blocked`,
      bit-identical to the Catalyst quantized-dot expression, pinned by
      test_cosine_pairs_blocked_matches_expr, ~15× faster than it);
      ``blocked=False`` selects the pure-expression path. Both exact
      paths are quadratic — the oracle reference, not the scale path.

    Downstream of the pair list: degrees are one groupBy (left-joined from
    the full corpus id set, so zero-neighbor points are counted — with
    ``min_pts=1`` they correctly become singleton cores, not noise),
    cores one filter, clusters min-label propagation over the core-core
    subgraph only (`connected_components` — diameter-bounded rounds),
    borders one join.
    """
    from hiss_cube_spark.operators.clusters import connected_components

    if pairs is not None:
        pairs = pairs.select("id_a", "id_b")
    elif use_lsh_blocking:
        pairs = cosine_pairs(
            corpus, threshold, id_col=id_col, vec_col=vec_col,
            exact=True, use_lsh_blocking=True, n_planes=n_planes, seed=seed,
        ).select("id_a", "id_b")
    elif blocked:
        pairs = cosine_pairs_blocked(
            corpus, threshold, id_col=id_col, vec_col=vec_col
        ).select("id_a", "id_b")
    else:
        pairs = cosine_pairs(
            corpus, threshold, id_col=id_col, vec_col=vec_col, exact=True
        ).select("id_a", "id_b")
    # pin the ONE-DIRECTIONAL pair list, not the mirrored one: the
    # all-pairs kernel runs exactly once, the eps-graph's four subtrees
    # (degrees, core-core edges, border assignment, CC) re-read the
    # half-size blocks through the trivial union, and pin storage halves
    pairs = pin_narrow(pairs)
    und = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    all_ids = corpus.select(F.col(id_col).alias("node"))
    deg = und.groupBy(F.col("id_a").alias("node")).agg(
        F.count(F.lit(1)).alias("nbrs")
    )
    if min_pts <= 1:
        # zero-neighbor points are singleton cores only when min_pts==1;
        # for min_pts>=2 they can never be core and already fall out as
        # noise in the final left joins, so skip the corpus-wide
        # completion join on the default path
        deg = all_ids.join(deg, "node", "left").select(
            "node", F.coalesce("nbrs", F.lit(0)).alias("nbrs")
        )
    core = deg.where(F.col("nbrs") + 1 >= min_pts).select("node")
    # `und` already carries both directions of every eps-edge, so the
    # core-core subgraph is symmetric as-is: pass it straight through with
    # symmetric=True instead of halving it (id_a < id_b) only for
    # connected_components to re-union the mirror — one filter and one
    # union branch (a second scan of the checkpointed eps-graph) saved.
    ce = und.join(core.select(F.col("node").alias("id_a")), "id_a").join(
        core.select(F.col("node").alias("id_b")), "id_b"
    )
    cc = connected_components(ce, src="id_a", dst="id_b", symmetric=True)
    # cores with no core neighbor form singleton clusters labelled by
    # themselves (CC only emits nodes that appear in an edge)
    singles = core.join(cc.select("node"), "node", "left_anti").select(
        "node", F.col("node").alias("cluster_id")
    )
    core_lab = cc.unionByName(singles)
    border = (
        und.join(core.select(F.col("node").alias("id_b")), "id_b")
        .join(core.select(F.col("node").alias("id_a")), "id_a", "left_anti")
        .join(core_lab.select(F.col("node").alias("id_b"), "cluster_id"), "id_b")
        .groupBy(F.col("id_a").alias("node"))
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    return (
        all_ids.join(core_lab.withColumnRenamed("cluster_id", "_cc"), "node", "left")
        .join(border.withColumnRenamed("cluster_id", "_cb"), "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.when(F.col("_cc").isNotNull(), F.lit("core"))
            .when(F.col("_cb").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("_cc", "_cb").cast("long").alias("cluster_id"),
        )
    )


def _quantized_pin(
    df: DataFrame, id_col: str, vec_col: str, quant: int
) -> DataFrame:
    """Project ``(id, floor-quantized int64 vector)`` and pin it
    eagerly: ONE source scan feeds every k-means round, centroid-sum
    and scoring pass (the ts_theil_sen/cur_source_overlap pin precedent —
    lazy re-derivation would re-read parquet once per reference).

    The exactness contract (dot and |c|² exact in int64 and losslessly
    convertible to double) requires dim·(quant·max|x|)² < 2^53 — i.e.
    each quantized component ≤ floor(sqrt(2^53/dim)). ``assert_true``
    enforces exactly that per element HERE, where it executes once per
    value thanks to the pin; normalized embeddings (components in
    [-1, 1], quantized magnitude ≤ 1e6 vs a bound of ~1.2e7 at dim=64)
    sit far inside. On success assert_true yields NULL, so it rides
    along as ``+ coalesce(CAST(NULL AS BIGINT), 0)`` — a no-op in
    codegen.
    """
    vq = F.expr(
        f"transform({vec_col}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {quant}) AS BIGINT) "
        f"+ coalesce(CAST(assert_true("
        f"abs(floor(CAST(x AS DOUBLE) * {quant})) <= "
        f"floor(sqrt(9007199254740992.0D / size({vec_col}))), "
        f"'kmeans_cosine: quantized |component| exceeds the int64 "
        f"exactness bound sqrt(2^53/dim) — normalize vectors or lower "
        f"quant') AS BIGINT), 0))"
    )
    return pin(df.select(F.col(id_col).alias("_vid"), vq.alias("_vq")), eager=True)


def kmeans_cosine(
    df: DataFrame,
    k: int = 8,
    dim: int = 64,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1_000_000,
    _pinned_q: DataFrame | None = None,
) -> DataFrame:
    """Spherical (cosine) k-means assignment over an embedding corpus —
    the training-data clustering primitive behind cluster-balanced
    sampling and SemDeDup-style curation — with a fully deterministic,
    cross-engine-exact formulation:

    * vectors quantize once onto a ``quant`` integer grid (floor);
    * init = the ``k`` smallest ids' vectors (deterministic, the sampled
      codebook precedent of :func:`pq_topk`);
    * centroids are element-wise FLOOR-MEAN vectors on the same integer
      grid: the update sums components exactly in int64, then divides by
      the cluster size with mathematical floor division (the
      ``(s - posmod(s, n)) / n`` form both engines evaluate identically
      for negative sums — Spark ``DIV`` alone truncates toward zero).
      Floor-mean keeps centroid components the same magnitude as the
      inputs, so dot and |c|² stay ≤ ~64·quant² ≈ 2.6e14 < 2^53 at ANY
      cluster size — exact in int64 AND exactly convertible to double
      (raw integer-sum centroids overflow |c|² beyond ~6k members);
    * assignment = argmax over k of ``dot / sqrt(|c|²)`` (|v| is constant
      per vector and cancels): dot and |c|² are exact BIGINTs below
      2^53, and the final sqrt/divide/compare are correctly-rounded IEEE
      doubles — bit-identical in any engine. Ties break on the smaller
      cluster id.

    Scale shape: the quantized ``(id, grid-vector)`` projection is
    pinned ONCE (one source scan total — see
    :func:`_quantized_pin`); every round broadcasts the k×dim centroid
    table against the pin, computes k dots per row inside codegen
    (``zip_with``/``aggregate``), window-argmaxes per id, then runs a
    (k×dim)-key integer-sum shuffle for the update; centroids are
    pinned each round so lineage stays flat. Member sums
    bound at ~9.2e18/quant ≈ 9e12 members per cluster at quant=1e6.

    Quantized component magnitudes must satisfy
    dim·(quant·max|x|)² < 2^53 — validated per element at quantization
    (:func:`_quantized_pin`); the exact-int64 contract is meaningless
    beyond that bound. ``dim`` is signature-only (kept for parity with
    :func:`sq_quantize` and stable call sites); the true dimensionality
    is whatever the arrays carry.

    Returns (id, cluster) — one row per input vector.
    """
    q = (
        _pinned_q
        if _pinned_q is not None
        else _quantized_pin(df, id_col, vec_col, quant)
    )
    # No checkpoint on the k-row init table: each round's centroid value is
    # consumed exactly once (by that round's broadcast build, which
    # materializes it), so an eager checkpoint here is a pure extra driver
    # round-trip (guide §5 — persist only what is reused).
    cents = (
        q.orderBy("_vid")
        .limit(k)
        .select(
            F.row_number().over(Window.orderBy("_vid")).alias("_cid"),
            F.col("_vq").alias("_cq"),
        )
    )
    zero = F.lit(0).cast("long")
    dot = F.aggregate(
        F.zip_with("_vq", "_cq", lambda x, y: x * y), zero, lambda a, x: a + x
    )
    cnorm2 = F.aggregate(
        F.zip_with("_cq", "_cq", lambda x, y: x * y), zero, lambda a, x: a + x
    )
    assign = None
    for r in range(rounds):
        w = Window.partitionBy("_vid").orderBy(F.desc("_score"), "_cid")
        assign = (
            q.crossJoin(F.broadcast(cents))
            .select(
                "_vid",
                "_cid",
                "_vq",
                (dot / F.sqrt(cnorm2.cast("double"))).alias("_score"),
            )
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
        )
        if r < rounds - 1:
            cells = (
                assign.select("_cid", F.posexplode("_vq").alias("_pos", "_v"))
                .groupBy("_cid", "_pos")
                .agg(F.sum("_v").alias("_s"), F.count(F.lit(1)).alias("_n"))
            )
            # floor-mean: (s - posmod(s, n)) is divisible by n, so DIV is
            # exact and engine-agnostic even for negative sums. The pin
            # keeps each round's lineage flat.
            cents = pin(
                cells.groupBy("_cid").agg(
                    F.expr(
                        "transform("
                        "array_sort(collect_list(struct(_pos, _s, _n))), "
                        "p -> (p._s - ((p._s % p._n + p._n) % p._n)) "
                        "DIV p._n)"
                    ).alias("_cq")
                )
            )
    return assign.select(
        F.col("_vid").alias(id_col), F.col("_cid").cast("long").alias("cluster")
    )


def cluster_prototypes(
    df: DataFrame,
    k: int = 8,
    rounds: int = 2,
    n_proto: int = 2,
    n_outlier: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1_000_000,
) -> DataFrame:
    """Per-cluster prototypicality ranking over :func:`kmeans_cosine`
    output — the SemDeDup/DataComp curation move: the most prototypical
    members of a cluster are the near-duplicates to prune, the least
    prototypical are the diversity to keep.

    Members score as cosine-to-own-centroid where the centroid is the
    cluster's exact integer FLOOR-MEAN vector (the k-means update rule —
    bounded below 2^53 at any cluster size), so the ranking is
    bit-deterministic like the k-means itself. Emits the top
    ``n_proto`` ('proto') and bottom ``n_outlier`` ('outlier') per
    cluster; a member that qualifies as both (tiny cluster) appears once
    as 'proto'. Ties break on the smaller id.

    Scale: ONE source scan for the whole family — the quantized
    projection pin (:func:`_quantized_pin`) is built here and passed
    into :func:`kmeans_cosine`, so every k-means round, the centroid-sum
    pass and the member-scoring pass all read the pin; the
    (id, cluster) assignment is additionally pinned (16 bytes/row
    — negligible next to the vectors), centroids broadcast.
    """
    q = _quantized_pin(df, id_col, vec_col, quant)
    # the two consumers (centroid-sum pass, scoring pass) run in SEPARATE
    # actions, so the first one's single read materializes the pin
    assign = pin(
        kmeans_cosine(
            df, k=k, dim=dim, rounds=rounds, id_col=id_col, vec_col=vec_col,
            quant=quant, _pinned_q=q,
        )
    )
    joined = q.join(
        assign.select(F.col(id_col).alias("_vid"), "cluster"), "_vid"
    )
    # Consumed exactly once (the scoring pass's broadcast build, which
    # also materializes the lazy `assign` checkpoint above) — no
    # checkpoint needed, one driver round-trip less.
    cents = (
        joined.select("cluster", F.posexplode("_vq").alias("_pos", "_v"))
        .groupBy("cluster", "_pos")
        .agg(F.sum("_v").alias("_s"), F.count(F.lit(1)).alias("_n"))
        .groupBy("cluster")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(_pos, _s, _n))), "
                "p -> (p._s - ((p._s % p._n + p._n) % p._n)) DIV p._n)"
            ).alias("_cq")
        )
    )
    zero = F.lit(0).cast("long")
    dot = F.aggregate(
        F.zip_with("_vq", "_cq", lambda x, y: x * y), zero, lambda a, x: a + x
    )
    vnorm2 = F.aggregate(
        F.zip_with("_vq", "_vq", lambda x, y: x * y), zero, lambda a, x: a + x
    )
    cnorm2 = F.aggregate(
        F.zip_with("_cq", "_cq", lambda x, y: x * y), zero, lambda a, x: a + x
    )
    scored = joined.join(F.broadcast(cents), "cluster").select(
        "cluster",
        "_vid",
        (
            dot
            / (F.sqrt(vnorm2.cast("double")) * F.sqrt(cnorm2.cast("double")))
        ).alias("_score"),
    )
    wd = Window.partitionBy("cluster").orderBy(F.desc("_score"), "_vid")
    wa = Window.partitionBy("cluster").orderBy("_score", F.desc("_vid"))
    ranked = scored.select(
        "cluster",
        "_vid",
        "_score",
        F.row_number().over(wd).alias("_rd"),
        F.row_number().over(wa).alias("_ra"),
    )
    return (
        ranked.where(
            (F.col("_rd") <= n_proto) | (F.col("_ra") <= n_outlier)
        )
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            F.col("_vid").alias(id_col),
            F.when(F.col("_rd") <= n_proto, F.lit("proto"))
            .otherwise(F.lit("outlier"))
            .alias("role"),
            F.col("_rd").cast("long").alias("rank_desc"),
        )
    )
