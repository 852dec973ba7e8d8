"""Deduplication operators for large-scale training-data pipelines.

Four families, all expressed as DataFrame pipelines (shuffle-conscious):

* exact        — hash-groupBy on content digest; one shuffle.
* n-gram Jaccard — row-local gram arrays → hash-order AllPairs prefix join
  with PPJoin size/position residuals → array_intersect verification.
  Exact; plain gram self-join kept as the small-scale oracle path.
* MinHash+LSH  — row-local gram hashes → 128 permuted mins + band hashes in
  one let-bound SQL expression → banded bucket join → exact-Jaccard
  verification of candidates. Sub-quadratic at 100 TB.
* SimHash      — 64-bit fingerprints computed row-locally (no shuffle);
  hamming-≤k pairs found with pigeonhole chunk banding (exact superset;
  paired-chunk variant for large corpora), then bit_count verify.

All hashes on the Spark side are xxhash64 (JVM, codegen) except the
oracle-parity simhash which uses a cross-engine integer token code.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hiss_cube_spark.pins import pin

__all__ = [
    "exact_dedup",
    "remove_duplicated_spans",
    "paragraph_dedup",
    "shingle_array",
    "document_grams",
    "word_shingles",
    "ngram_jaccard_pairs",
    "containment_pairs",
    "minhash_signatures",
    "minhash_features",
    "sig_agreement",
    "minhash_lsh_pairs",
    "simhash_fingerprints",
    "simhash_pairs",
    "pair_set_metrics",
]

# Mersenne prime 2^31-1 for minhash universal hashing: keeps a*h + b within
# int64 under ANSI overflow checking (a, h < 2^31 → product < 2^62).
_MERSENNE = (1 << 31) - 1


def _spread_docs(df: DataFrame, id_col: str, partitions: int | None) -> DataFrame:
    """Hash-repartition documents by id before the shingle/token explode.

    Two effects: (1) the CPU-heavy per-document expression work (split /
    n-gram window / explode) spreads over every core even when the input is
    a handful of parquet files; (2) Generate/Project preserve hash
    partitioning, so every downstream ``groupBy(id)`` (signatures, set
    sizes, per-bit votes) is satisfied without another exchange — the text
    is shuffled once, the derived tables never are.

    ``partitions=None`` → defaultParallelism; ``partitions <= 0`` → leave
    the caller's partitioning untouched (e.g. already bucketed by id).
    """
    if partitions is not None and partitions <= 0:
        return df
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.col(id_col))


def _perm_constants(n: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod M."""
    consts = []
    state = seed
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_MERSENNE - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE
        consts.append((a, b))
    return consts


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: digest → (canonical id, copy count).

    One hash-partitioned aggregation; at 100 TB the digest (16 bytes) is the
    shuffle payload, never the document text.
    """
    return df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_hash")).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def shingle_array(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of one document as an array column.

    Native, row-local: split → sliding window via transform(sequence) →
    drop empties → distinct. No Python, no explode, no shuffle.
    """
    # BIND the token array once: inlining split(text) into the window
    # lambda re-tokenizes the document once PER GRAM (O(len²) per doc —
    # measured 5x on gram-heavy plans at 100x corpus). A transform over
    # a 1-element array evaluates its input exactly once and the lambda
    # variable w is the bound array; element_at unwraps the result.
    def _grams(w):
        out = F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
        )
        return F.array_distinct(F.filter(out, lambda g: F.length(g) > 0))

    return F.element_at(
        F.transform(F.array(F.split(text_col, " ")), _grams), 1
    )


def document_grams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    doc_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, grams array<string>) — per-document shingle sets, row-local.

    The array form is the hub of the fast dedup paths: signatures hash the
    array in place, set sizes are ``size(grams)``, and candidate-pair
    verification is ``array_intersect`` — none of which need the exploded
    (doc, gram) table or its groupBy round trip.
    """
    return _spread_docs(df, id_col, doc_partitions).select(
        F.col(id_col).alias("doc_id"), shingle_array(F.col(text_col), n).alias("grams")
    )


def word_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, gram) exploded rows."""
    return document_grams(df, text_col, id_col, n, doc_partitions=0).select(
        "doc_id", F.explode("grams").alias("gram")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_gram_freq: int | None = None,
    doc_partitions: int | None = None,
    prefix_filter: bool = False,
    df_order: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (doc_a < doc_b, jaccard ≥ t).

    Plan: shingle sets → self equi-join on gram (the blocking key) →
    count(*) per pair = |A∩B| → jaccard from per-doc set sizes. At scale,
    ``max_gram_freq`` drops ultra-hot grams (stopword shingles) whose pair
    blow-up dominates the join — standard df-cap blocking (approximate:
    dropped grams no longer count toward the intersection).

    ``prefix_filter`` enables AllPairs-style prefix blocking, which is
    EXACT for ANY global total order on grams: if J(A,B) ≥ t then
    |A∩B| ≥ t·max(|A|,|B|), so the order-smallest common gram sits in BOTH
    prefixes of length |size| − ceil(t·|size|) + 1. The default order is
    ``xxhash64(gram)``, which makes the prefix computation fully row-local
    (array_sort + slice over the persisted gram arrays — no df table, no
    join, no window). PPJoin residuals are attached to the candidate join:
    the size filter (t·|A| ≤ |B| ≤ |A|/t) and the positional filter
    (min(|A|−i, |B|−j) ≥ ceil(t/(1+t)·(|A|+|B|)) for a match at sorted
    positions i, j — sound because all common grams of the order-first
    match rank after it on both sides). Full-array verification restores
    exact counts.

    ``df_order=True`` switches the prefix order to (document-frequency,
    gram) ascending — one extra gram-df aggregation, join, and per-doc
    window, but prefixes then hold the rarest grams, which prunes harder on
    zipfian corpora where stopword shingles land in random-order prefixes
    (measured 2.3x fewer candidates at sf0.1; the row-local default is
    still ~2x faster end-to-end there because it runs three fewer
    shuffles — re-profile per corpus at scale).

    The gram-array table feeds multiple plan subtrees — persist it instead of
    recomputing the split/shingle work per subtree (at cluster scale this is
    a checkpointed intermediate table).
    """
    ga = document_grams(df, text_col, id_col, n, doc_partitions)
    ga = ga.persist()  # multiple plan subtrees; caller owns unpersist via spark.catalog
    sh = ga.select("doc_id", F.explode("grams").alias("gram"))
    if max_gram_freq is not None:
        # hot-gram drop changes the effective shingle sets, so sizes and
        # intersections must both come from the filtered exploded table —
        # the array fast paths below only apply to the unfiltered case.
        hot = sh.groupBy("gram").count().where(F.col("count") > max_gram_freq).select("gram")
        sh = sh.join(F.broadcast(hot), "gram", "left_anti")
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    else:
        sizes = ga.select("doc_id", F.size("grams").alias("sz"))

    if prefix_filter:
        if df_order or max_gram_freq is not None:
            # rarest-first order needs the global gram-df table; the hot-gram
            # variant reuses it too (sets already reduced on `sh`)
            from pyspark.sql.window import Window

            gram_df = sh.groupBy("gram").agg(F.count(F.lit(1)).alias("_df"))
            wd = Window.partitionBy("doc_id")
            wo = Window.partitionBy("doc_id").orderBy("_df", "gram")
            prefix = (
                sh.join(gram_df, "gram")
                .withColumn("_pos", F.row_number().over(wo))
                .withColumn("_sz", F.count(F.lit(1)).over(wd))
                .where(F.col("_pos") <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1)
                .select("doc_id", F.xxhash64("gram").alias("_h"), (F.col("_pos") - 1).alias("_pos"), "_sz")
            )
        else:
            # hash order → prefixes sliced row-locally off the gram arrays
            sz = F.size("grams")
            plen = (sz - F.ceil(F.lit(threshold) * sz) + 1).cast("int")
            hsorted = F.array_sort(F.transform("grams", lambda g: F.xxhash64(g)))
            prefix = ga.select(
                "doc_id",
                sz.alias("_sz"),
                F.posexplode(F.slice(hsorted, 1, plen)).alias("_pos", "_h"),
            )
        pa, pb = prefix.alias("a"), prefix.alias("b")
        overlap_req = F.ceil(
            F.lit(threshold / (1.0 + threshold)) * (F.col("a._sz") + F.col("b._sz"))
        )
        pos_ok = (
            F.least(F.col("a._sz") - F.col("a._pos"), F.col("b._sz") - F.col("b._pos"))
            >= overlap_req
        )
        size_ok = (F.col("b._sz") >= F.ceil(F.lit(threshold) * F.col("a._sz"))) & (
            F.col("a._sz") >= F.ceil(F.lit(threshold) * F.col("b._sz"))
        )
        cand = (
            pa.join(
                pb,
                (F.col("a._h") == F.col("b._h"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & size_ok
                & pos_ok,
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        if max_gram_freq is None:
            # exact verification straight off the gram arrays: two joins +
            # array_intersect replace the per-gram join pair + count agg
            return _verify_pairs_by_arrays(cand, ga, threshold, broadcast_candidates=True)
        sa_j = sh.select(F.col("doc_id").alias("doc_a"), "gram")
        sb_j = sh.select(F.col("doc_id").alias("doc_b"), "gram")
        inter = (
            F.broadcast(cand)
            .join(sa_j, "doc_a")
            .join(sb_j, ["doc_b", "gram"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    doc_partitions: int | None = None,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Asymmetric n-gram containment pairs: C(A→B) = |A∩B| / |A| ≥ t,
    emitted as (doc_contained, doc_host, containment), both directions.

    Containment is the doc-in-doc duplication signal Jaccard misses: a
    short document quoted wholesale inside a long one scores near-zero
    Jaccard but containment 1.0 — the quote/boilerplate/snapshot-subset
    case in web-corpus curation (CCNet/RefinedWeb drop the contained doc).

    Exact with prefix blocking on the CONTAINED side only: |A∩B| ≥ t·|A|
    forces the order-smallest common gram into A's
    (|A| − ceil(t·|A|) + 1)-prefix under any global gram order (hash order
    here, so the prefix is a row-local array_sort+slice). The host side
    posts ALL its grams — B can cover A anywhere, so no host prefix is
    sound. A size residual (|B| ≥ ceil(t·|A|)) prunes at the join, and
    full gram-array verification (`array_intersect`) restores exact
    counts. At scale flip ``broadcast_candidates`` off and let the verify
    joins shuffle by doc id.
    """
    ga = document_grams(df, text_col, id_col, n, doc_partitions)
    ga = ga.persist()

    sz = F.size("grams")
    plen = (sz - F.ceil(F.lit(threshold) * sz) + 1).cast("int")
    hsorted = F.array_sort(F.transform("grams", lambda g: F.xxhash64(g)))
    prefix = ga.select(
        F.col("doc_id").alias("doc_contained"),
        sz.alias("_sza"),
        F.explode(F.slice(hsorted, 1, plen)).alias("_ha"),
    )
    postings = ga.select(
        F.col("doc_id").alias("doc_host"),
        sz.alias("_szb"),
        F.explode(F.transform("grams", lambda g: F.xxhash64(g))).alias("_hb"),
    )
    cand = (
        prefix.join(
            postings,
            (F.col("_ha") == F.col("_hb"))
            & (F.col("doc_contained") != F.col("doc_host"))
            & (F.col("_szb") >= F.ceil(F.lit(threshold) * F.col("_sza"))),
        )
        .select("doc_contained", "doc_host")
        .distinct()
    )
    if broadcast_candidates:
        cand = F.broadcast(cand)
    va = ga.select(F.col("doc_id").alias("doc_contained"), F.col("grams").alias("_g_a"))
    vb = ga.select(F.col("doc_id").alias("doc_host"), F.col("grams").alias("_g_b"))
    return (
        cand.join(va, "doc_contained")
        .join(vb, "doc_host")
        .withColumn(
            "containment",
            F.size(F.array_intersect("_g_a", "_g_b")) / F.size("_g_a"),
        )
        .where(F.col("containment") >= F.lit(threshold))
        .select("doc_contained", "doc_host", "containment")
    )


def _verify_pairs_by_arrays(
    cand: DataFrame, ga: DataFrame, threshold: float, broadcast_candidates: bool = True
) -> DataFrame:
    """Exact-Jaccard verification of (doc_a, doc_b) candidates off gram arrays.

    ``|A∩B|`` is ``size(array_intersect(...))`` per pair — O(|A|+|B|) row-
    local work after two equi-joins that fetch each side's array. With the
    candidate list broadcast both fetches are map-side hash probes; the gram
    table is never shuffled by pair key and no count aggregation runs.
    """
    if broadcast_candidates:
        cand = F.broadcast(cand)
    va = ga.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("_g_a"))
    vb = ga.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("_g_b"))
    n_inter = F.size(F.array_intersect("_g_a", "_g_b"))
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("n_inter", n_inter)
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.size("_g_a") + F.size("_g_b") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    shingles: DataFrame, n_hashes: int = 128, seed: int = 42, with_size: bool = False
) -> DataFrame:
    """(doc_id, sig array<long>[, sz]) minhash signatures from a shingle table.

    Collect each document's gram hashes into one array (collect_list — the
    shuffle payload is 8 B per distinct shingle, less than the text itself),
    then compute all n permuted mins in ONE nested-transform expression:
    ``transform(consts, (a,b) -> array_min(transform(hs, h -> (a*h+b) % M)))``.
    Measured 3.4x faster than n separate ``min()`` agg columns at sf0.1 —
    a 128-buffer hash aggregate generates pathological codegen, while the
    single array expression stays compact.

    ``with_size`` adds the shingle-set size (``size(_hs)`` — shingles are
    distinct per doc) so LSH verification needs no second aggregation pass
    over the shingle table.
    """
    consts = _perm_constants(n_hashes, seed)
    h = F.abs(F.xxhash64("gram")) % F.lit(_MERSENNE)
    hs = (
        shingles.withColumn("_h", h)
        .groupBy("doc_id")
        .agg(F.collect_list("_h").alias("_hs"))
    )
    consts_arr = F.array(*[F.array(F.lit(a), F.lit(b)) for a, b in consts])
    sig = F.transform(
        consts_arr,
        lambda c: F.array_min(
            F.transform(F.col("_hs"), lambda x: (x * c[0] + c[1]) % F.lit(_MERSENNE))
        ),
    )
    cols = [F.col("doc_id"), sig.alias("sig")]
    if with_size:
        cols.append(F.size("_hs").alias("sz"))
    return hs.select(*cols)


def minhash_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 128,
    bands: int = 32,
    seed: int = 42,
    doc_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, sig array<long>, bands array<long>) — row-local minhash
    signature plus per-band slice hashes in ONE let-bound expression.

    This is the feature extractor shared by the *incremental* dedup paths
    (streaming near-dup, persistent signature indexes): unlike
    ``minhash_lsh_pairs`` it carries the signature forward so later batches
    can estimate Jaccard against indexed documents without re-reading their
    text or gram sets. The whole computation is one projection over the
    gram arrays — no shuffle, no persist needed (each doc is touched once).

    TWO nested ``transform(array(x), v -> ...)[0]`` let-bindings, not one:
    the gram-hash array is bound first, then the 128-min signature over it.
    A ``withColumn("_hs", ...)`` binding is NOT enough here — projection
    collapse inlines the column into all 128 permutation branches, so the
    whole split/shingle/hash pipeline re-runs per constant (measured 12 s
    for 2.5k docs at sf0.1 vs ~1 s let-bound; `minhash_lsh_pairs` dodges
    the same collapse with its load-bearing persist).
    """
    rows_per_band = n_hashes // bands
    consts = _perm_constants(n_hashes, seed)
    ga = document_grams(df, text_col, id_col, n, doc_partitions)
    consts_sql = "array(" + ",".join(f"array({a}L,{b}L)" for a, b in consts) + ")"
    hs_sql = f"transform(grams, g -> abs(xxhash64(g)) % {_MERSENNE}L)"
    sig_sql = (
        f"transform({consts_sql}, c -> "
        f"array_min(transform(hs0, h -> (h * c[0] + c[1]) % {_MERSENNE}L)))"
    )
    both_sql = (
        f"transform(array({hs_sql}), hs0 -> "
        f"transform(array({sig_sql}), s -> named_struct("
        f"'sig', s, "
        f"'bands', transform(sequence(0, {bands - 1}), "
        f"b -> xxhash64(slice(s, b * {rows_per_band} + 1, {rows_per_band})))))[0]"
        f")[0]"
    )
    return ga.select("doc_id", F.expr(both_sql).alias("_mh")).select(
        "doc_id", F.col("_mh.sig").alias("sig"), F.col("_mh.bands").alias("bands")
    )


def sig_agreement(a: Column, b: Column) -> Column:
    """Estimated Jaccard from two equal-length minhash signatures: the
    fraction of positions where the permuted mins agree (the textbook
    unbiased estimator, sigma = sqrt(j(1-j)/n_hashes)). Native zip_with +
    aggregate — stays in codegen, no UDF."""
    matches = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return matches.cast("double") / F.size(a)


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 128,
    bands: int = 32,
    seed: int = 42,
    doc_partitions: int | None = None,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard.

    Sub-quadratic: candidates come from equality on (band_id, band_hash)
    buckets; each candidate pair is then verified against the true shingle
    sets so the output is exact given LSH recall (with 128/32 bands,
    P[miss | j≥0.9] < 1e-20). This is the 100 TB path — the exact gram join
    is the small-scale oracle.
    """
    rows_per_band = n_hashes // bands
    consts = _perm_constants(n_hashes, seed)
    # Gram arrays + per-gram hashes, row-local, materialized ONCE. The
    # persist is load-bearing, not a cache hint: the banding projection
    # below references `_hs` in all n_hashes permutation-mins, and without a
    # barrier projection collapse would inline the whole split/shingle/hash
    # pipeline into every branch (measured 8x at sf0.1, worse with doc size).
    ga = document_grams(df, text_col, id_col, n, doc_partitions).withColumn(
        "_hs", F.expr(f"transform(grams, g -> abs(xxhash64(g)) % {_MERSENNE}L)")
    )
    ga = ga.persist()  # caller owns unpersist (spark.catalog.clearCache)

    # Signature + band hashes in ONE SQL expression, for two reasons:
    # (1) driver cost — building n_hashes Column trees through py4j lambdas
    #     took ~3 s per call at n_hashes=128; one expr string parses JVM-side
    #     in milliseconds.
    # (2) evaluation count — `transform(array(<sig>), s -> ...)[0]` is a let
    #     binding: the 128-min signature is evaluated once per row and the
    #     band slices hash the bound array, instead of projection collapse
    #     inlining the signature into every band column (32x recompute).
    # The persist on `ga` is still load-bearing: without the barrier the
    # whole split/shingle/hash pipeline would re-run per self-join side.
    consts_sql = "array(" + ",".join(f"array({a}L,{b}L)" for a, b in consts) + ")"
    sig_sql = (
        f"transform({consts_sql}, c -> "
        f"array_min(transform(_hs, h -> (h * c[0] + c[1]) % {_MERSENNE}L)))"
    )
    bands_sql = (
        f"transform(array({sig_sql}), s -> transform(sequence(0, {bands - 1}), "
        f"b -> xxhash64(slice(s, b * {rows_per_band} + 1, {rows_per_band}))))[0]"
    )
    # Pin the per-doc band-hash table (doc_id + `bands` longs ≈ a few
    # hundred bytes/doc — orders of magnitude below the text) before the
    # self-join: at bench scale one side of the band join becomes a
    # BroadcastExchange, so WITHOUT this pin the n_hashes·|grams| min
    # transform — the query's dominant CPU leg, and an interpreted HOF, so
    # the leg most sensitive to host contention (PLANS.md round-12) — runs
    # once per join side. The pin makes it exactly once per document.
    sigs = ga.select("doc_id", F.expr(bands_sql).alias("_bands"))
    sigs = sigs.persist()
    band = sigs.select(
        "doc_id",
        F.posexplode("_bands").alias("band_id", "band_hash"),
    )
    a = band.alias("a")
    b = band.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # LSH's whole point is |candidates| << |docs|² — the pair list is tiny
    # next to the gram table, so broadcasting it turns the verification
    # fetches into map-side hash probes instead of shuffling the gram table
    # by pair key. Opt out if banding parameters are loose enough that
    # candidates could exceed executor memory.
    return _verify_pairs_by_arrays(cand, ga, threshold, broadcast_candidates)


# --------------------------------------------------------------------------
# SimHash — cross-engine deterministic variant (oracle-friendly)
# --------------------------------------------------------------------------

# 64 odd multipliers for per-bit token hashing (splitmix-derived, pinned).
def _bit_multipliers(n: int = 64, seed: int = 7) -> list[int]:
    out, state = [], seed
    for _ in range(n):
        state = (state * 2862933555777941757 + 3037000493) % (1 << 62)
        out.append((state | 1) % (1 << 31))
    return out


_BIT_MULTS = _bit_multipliers()


def token_code(tok: Column) -> Column:
    """Cross-engine integer code of a token (plain int arithmetic).

    ``ascii(first)*131 + length*7 + ascii(second)`` — collisions are fine for
    a fingerprint; determinism across Spark/DuckDB is what matters.
    """
    c1 = F.ascii(F.substring(tok, 1, 1))
    c2 = F.coalesce(F.ascii(F.substring(tok, 2, 1)), F.lit(0))
    return (c1 * F.lit(131) + F.length(tok) * F.lit(7) + c2).cast("long")


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    doc_partitions: int | None = None,
) -> DataFrame:
    """64-bit simhash per document: (doc_id, simhash long).

    Bit b votes +1/−1 per token occurrence depending on
    ``(code * P_b) % 2^31 > 2^30``; the fingerprint sets bits with a positive
    total. Pure integer expressions → identical in any engine.

    Fully row-local: the token-code array and all 64 per-bit vote sums fold
    in one ``aggregate``/``zip_with`` chain inside a single projection —
    each sub-expression is referenced exactly once, so nothing is
    recomputed and NO shuffle runs at all (the previous explode →
    collect_list round trip cost 17x at sf0.1, bit-identical output).
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: F.length(t) > 0)
    codes = F.transform(toks, lambda t: token_code(t))

    mults = F.array(*[F.lit(m).cast("long") for m in _BIT_MULTS])
    votes = F.aggregate(
        codes,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, c: F.zip_with(
            acc,
            mults,
            lambda a, m: a
            + F.when((c * m) % F.lit(1 << 31) > F.lit(1 << 30), F.lit(1).cast("long")).otherwise(
                F.lit(-1).cast("long")
            ),
        ),
    )
    weights = F.array(
        *[F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long") for b in range(64)]
    )
    fp = F.aggregate(
        F.zip_with(votes, weights, lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return _spread_docs(df, id_col, doc_partitions).select(
        F.col(id_col).alias("doc_id"), fp.alias("simhash")
    )


def simhash_pairs(
    fps: DataFrame,
    max_hamming: int = 7,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    n_chunks: int | None = None,
    paired_banding: bool = False,
) -> DataFrame:
    """Pairs with hamming(simhash) ≤ k via pigeonhole chunk banding.

    With ``n_chunks > max_hamming`` chunks, any pair at hamming ≤ k shares at
    least one identical chunk (pigeonhole) — the chunk equi-join is an
    *exact* candidate superset; bit_count(xor) then filters exactly.

    Single-chunk bands are exact but collide at rate 2^-width, which turns
    super-linear on large corpora (measured 14.7× at 10× docs). With
    ``paired_banding`` candidates come from equality on chunk *pairs*
    (C(n,2) bands of 2×width bits → 2^-2width collision rate, ~70× fewer
    candidates): near-exact recall (a pair is missed only when every one of
    its k damaged bits lands in a distinct chunk AND k = n_chunks-1) —
    the 100 TB path.
    """
    if n_chunks is None:
        n_chunks = max_hamming + 1
    if 64 % n_chunks != 0:
        raise ValueError(f"n_chunks={n_chunks} must divide 64")
    if not paired_banding and n_chunks <= max_hamming:
        raise ValueError(
            f"exact pigeonhole banding needs n_chunks > max_hamming "
            f"(got {n_chunks} <= {max_hamming}); use paired_banding for approximate recall"
        )
    width = 64 // n_chunks
    mask = (1 << width) - 1
    singles = [
        F.shiftrightunsigned(F.col(fp_col), width * c).bitwiseAND(F.lit(mask))
        for c in range(n_chunks)
    ]
    if paired_banding:
        chunks = F.array(
            *[
                F.shiftleft(singles[i], width) + singles[j]
                for i in range(n_chunks)
                for j in range(i + 1, n_chunks)
            ]
        )
    else:
        chunks = F.array(*singles)
    e = fps.select(
        F.col(id_col).alias("doc_id"),
        F.col(fp_col).alias("fp"),
        F.posexplode(chunks).alias("chunk_id", "chunk_val"),
    )
    a, b = e.alias("a"), e.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cand.withColumn("hamming", ham).where(F.col("hamming") <= max_hamming).select(
        "doc_a", "doc_b", "hamming"
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    partitions: int | None = None,
) -> DataFrame:
    """Sub-document (paragraph-level) exact deduplication.

    Splits every document on ``sep``, keeps only the GLOBALLY FIRST
    occurrence of each normalized (trimmed) paragraph — first by
    ``(id, position)`` order — and reassembles each document from its
    surviving paragraphs in original order. Documents whose every
    paragraph was seen earlier come back with empty text (kept, not
    dropped: the caller decides the row's fate).

    This is the boilerplate-removal pass of web-corpus curation (headers,
    footers, license blocks repeated across millions of pages) — document-
    level dedup (exact/minhash) never catches them because the surrounding
    text differs.

    Shuffle shape at 100 TB: one explode (narrow), one shuffle to group by
    paragraph (the winner window), one shuffle back to reassemble by doc.
    The paragraph-key shuffle carries (norm_hash, id, pos, text) only;
    reassembly partitions by id, so both exchanges are on compact keys.
    A 64-bit xxhash of the normalized paragraph stands in for the full
    string as the window key — collisions at 64 bits are negligible below
    ~4e9 distinct paragraphs per corpus; pass the string itself as the key
    if byte-exactness at that scale matters.

    Output: ``(id_col, out text, n_kept int, n_dropped int)``.
    """
    paras = (
        _spread_docs(df.select(id_col, text_col), id_col, partitions)
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias("pos", "para"),
        )
        .withColumn("norm", F.trim(F.col("para")))
        .where(F.col("norm") != "")
    )
    w = Window.partitionBy(F.xxhash64("norm")).orderBy(id_col, "pos")
    kept = paras.withColumn("rn", F.row_number().over(w)).withColumn(
        "keep", F.col("rn") == 1
    )
    per_doc = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct(F.col("pos"), F.col("para")))
                    )
                ),
                lambda x: x.getField("para"),
            ),
            sep,
        ).alias(text_col),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).cast("long").alias("n_dropped"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
        )
    )


def pair_set_metrics(
    truth: DataFrame,
    pred: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Precision/recall of a candidate pair set against a ground-truth pair
    set — the evaluation every approximate dedup (LSH, SimHash, embedding
    blocking) needs before it replaces the exact join in production.

    One row out: (tp, fp, fn, precision, recall). Three count aggregates —
    the intersection join shuffles only pair keys, never documents; at
    100 TB both inputs are pair lists, already tiny relative to the corpus.
    """
    t = truth.select(a_col, b_col)
    p = pred.select(a_col, b_col)
    tp = t.join(p, [a_col, b_col]).agg(F.count(F.lit(1)).alias("tp"))
    np_ = p.agg(F.count(F.lit(1)).alias("np"))
    nt = t.agg(F.count(F.lit(1)).alias("nt"))
    return (
        tp.crossJoin(np_)
        .crossJoin(nt)
        .select(
            "tp",
            (F.col("np") - F.col("tp")).alias("fp"),
            (F.col("nt") - F.col("tp")).alias("fn"),
            F.round(F.col("tp") * 1.0 / F.col("np"), 6).alias("precision"),
            F.round(F.col("tp") * 1.0 / F.col("nt"), 6).alias("recall"),
        )
    )


def duplicated_span_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_count: int = 2,
    hash_grams: bool = True,
) -> DataFrame:
    """Exact substring (n-gram span) duplication per document — the
    distributed analog of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a token
    position counts as duplicated when some n-gram window covering it
    occurs ≥ ``min_count`` times in the corpus (including twice within one
    document). Returns (doc_id, n_tokens, dup_tokens, dup_fraction);
    filter on dup_fraction to drop boilerplate-heavy documents, or use the
    spans to cut them out.

    Plan shape, linear at 100 TB: one explode to (doc, pos, gram-key)
    rows, one count groupBy to find duplicated keys (map-side combined),
    one shuffle join back, then a per-doc lead() window that merges
    overlapping fixed-length windows in closed form — coverage of sorted
    starts s_k is Σ min(n, s_{k+1} − s_k) + n, no interval list ever
    materializes. With ``hash_grams`` the shuffle carries 8-byte xxhash64
    keys instead of gram strings (collision odds ~n_grams²/2⁶⁴ —
    negligible); the string-keyed variant is the bit-exact oracle path.
    """
    toks = F.split(F.col(text_col), " ")
    d = df.select(F.col(id_col).alias("doc_id"), toks.alias("w")).withColumn(
        "n_tokens", F.size("w")
    )
    grams = d.where(F.col("n_tokens") >= n).select(
        "doc_id",
        "n_tokens",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(w) - {n}), i -> array_join(slice(w, i + 1, {n}), ' '))"
            )
        ).alias("pos", "gram"),
    )
    grams = grams.withColumn(
        "k", F.xxhash64("gram") if hash_grams else F.col("gram")
    ).drop("gram")
    dup = (
        grams.groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_count)
        .select("k")
    )
    starts = grams.join(dup, "k").select("doc_id", "n_tokens", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    nxt = F.lead("pos").over(w)
    cover = F.when(nxt.isNull(), F.lit(n)).otherwise(F.least(F.lit(n), nxt - F.col("pos")))
    per_doc = (
        starts.withColumn("_c", cover)
        .groupBy("doc_id")
        .agg(F.sum("_c").alias("dup_tokens"))
    )
    return (
        d.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)).cast("double") / F.col("n_tokens"), 6
            ).alias("dup_fraction"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_count: int = 2,
    hash_grams: bool = True,
) -> DataFrame:
    """Exact substring-span REMOVAL — the acting half of Lee et al. 2022
    ExactSubstr dedup (`duplicated_span_fraction` is the measuring half):
    every corpus-duplicated n-gram window keeps exactly its FIRST
    occurrence (global (doc_id, pos) order — deterministic) and every
    later occurrence's tokens are cut from their document; the cleaned
    text is the surviving tokens rejoined in order. Mid-sentence cuts are
    the documented ExactSubstr behavior — the training-data win comes
    from removing the memorization fuel, not from prose elegance.

    Returns (doc_id, n_tokens, n_removed, clean_text).

    Plan shape, linear at 100 TB: one explode to (doc, pos, key) windows,
    one rank window per key to elect the first occurrence (state is one
    row per duplicated gram), one position-explode of the loser windows
    folded into a per-doc sorted cut-position array, and ONE join of that
    (duplicated-content-sized) cut table back to the docs — the clean
    text is rebuilt in-place with native array expressions
    (``array_except`` over the position range, ``element_at`` gather), so
    the corpus's token payload never crosses an exchange. The former
    formulation exploded EVERY token into rows and shuffled them twice
    (anti-join + collect_list rebuild) — 5 exchanges and token-granular
    shuffle bytes vs 3 exchanges carrying only gram keys and cut
    positions. ``hash_grams`` swaps gram strings for 8-byte xxhash64
    shuffle keys (collision odds ~n_grams²/2⁶⁴); the string path is the
    bit-exact oracle.
    """
    toks = F.split(F.col(text_col), " ")
    d = df.select(F.col(id_col).alias("doc_id"), toks.alias("w")).withColumn(
        "n_tokens", F.size("w")
    )
    grams = d.where(F.col("n_tokens") >= n).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(w) - {n}), i -> array_join(slice(w, i + 1, {n}), ' '))"
            )
        ).alias("pos", "gram"),
    )
    grams = grams.withColumn(
        "k", F.xxhash64("gram") if hash_grams else F.col("gram")
    ).drop("gram")
    # duplicated-gram election as two windows over ONE gram derivation
    # sharing the k partitioning (single exchange): the groupBy-dup-set +
    # join-back formulation re-derived the gram explode once per
    # reference (3 corpus-scale explode passes instead of 1)
    wk = Window.partitionBy("k").orderBy("doc_id", "pos")
    losers = (
        grams.withColumn("_c", F.count(F.lit(1)).over(Window.partitionBy("k")))
        .withColumn("_rn", F.row_number().over(wk))
        .where((F.col("_c") >= min_count) & (F.col("_rn") > 1))
    )
    # per-doc sorted cut positions in ONE exchange (collect_set dedups
    # overlapping windows, so the former covered.distinct() exchange is
    # folded away); table size is bounded by duplicated content, not the
    # corpus
    cuts = losers.select(
        "doc_id", F.explode(F.expr(f"sequence(pos, pos + {n - 1})")).alias("p")
    ).groupBy("doc_id").agg(
        F.sort_array(F.collect_set("p")).alias("_cut")
    )
    # docs with no duplicated window keep _cut = NULL (left join) and
    # rebuild to their original text via the empty-cut branch
    return (
        d.join(cuts, "doc_id", "left")
        .withColumn(
            "_keep",
            F.expr("array_except(sequence(0, n_tokens - 1), coalesce(_cut, array()))"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("n_tokens") - F.size("_keep")).cast("long").alias("n_removed"),
            # coalesce matches the former formulation on NULL-text rows
            # (no tokens -> empty clean text, not NULL)
            F.coalesce(
                F.array_join(
                    F.expr("transform(_keep, i -> element_at(w, i + 1))"), " "
                ),
                F.lit(""),
            ).alias("clean_text"),
        )
    )


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 3,
    hash_grams: bool = True,
) -> DataFrame:
    """Pairwise n-gram Jaccard between corpus SOURCES — the
    cross-provenance contamination diagnostic (a crawl snapshot that
    near-duplicates another source inflates apparent diversity; a
    benchmark source overlapping a training source is leakage).

    Scale shape: distinct (source, gram) →  ``collect_set(source)`` per
    gram → explode source PAIRS. Per-gram state is bounded by the SOURCE
    count (tens), never by corpus size, so the hot-gram problem of
    doc-level pair joins does not exist here: a gram shared by s sources
    yields C(s,2) ≤ C(|sources|,2) pair rows — at 100 TB the shuffle
    carries (gram, ≤|sources| labels), and the pair table is
    |sources|² rows regardless of corpus size.

    Output: (source_a, source_b, n_inter, n_union, jaccard), a < b.

    ``hash_grams`` (default on) replaces each raw gram string with its
    ``xxhash64`` BEFORE the corpus-wide ``.distinct()`` — the dominant
    shuffle then carries (source, int64) instead of (source, ~20-60 byte
    string), identical set semantics up to 64-bit collisions (odds
    ~n²/2⁶⁵; at 10¹⁰ distinct grams that is ~0.3% for ONE colliding pair
    corpus-wide, which perturbs one count by 1 — fine for a diagnostic;
    pass False for the exact-string path).
    """
    grams = df.select(
        source_col, F.explode(shingle_array(F.col(text_col), n)).alias("gram")
    )
    if hash_grams:
        grams = grams.select(source_col, F.xxhash64("gram").alias("gram"))
    # ONE corpus scan: groupBy(gram) → source set (collect_set dedupes
    # map-side; no pre-`.distinct()` exchange needed), then BOTH legs —
    # per-source sizes and the pair matrix — derive from the pinned
    # per-gram table. The pin is sized by DISTINCT grams (8-byte
    # hashes + ≤|sources| labels), far smaller than the corpus, and the
    # alternative (sizes and pairs each re-deriving the shingle scan)
    # reads the full document corpus twice — at 100 TB the extra scan
    # dwarfs the gram-table materialization. Profiled at sf0.1: the
    # shingle explode itself is the floor (~1.3 s/scan); 2-scan = 3.5 s,
    # 1-scan = ~2 s.
    pergram = pin(
        grams.groupBy("gram").agg(F.sort_array(F.collect_set(source_col)).alias("srcs"))
    )
    sizes = pergram.select(F.explode("srcs").alias(source_col)).groupBy(
        source_col
    ).agg(F.count(F.lit(1)).alias("sz"))
    pair = (
        pergram
        .where(F.size("srcs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (a, i) -> "
                    "transform(slice(srcs, i + 2, size(srcs)), "
                    "b -> struct(a, b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(source_col).alias("source_a"), F.col("sz").alias("_sa"))
    sb = sizes.select(F.col(source_col).alias("source_b"), F.col("sz").alias("_sb"))
    return (
        pair.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_inter",
            (F.col("_sa") + F.col("_sb") - F.col("n_inter")).alias("n_union"),
            (
                F.col("n_inter").cast("double")
                / (F.col("_sa") + F.col("_sb") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )
