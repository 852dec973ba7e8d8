"""Scale-hygiene operators: salted skew join parity, bucketed co-located
joins (no shuffle), LSH blocking subset property, SQL surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def test_salted_join_matches_plain_join(spark):
    from hiss_cube_spark.operators.skew import salted_join

    # one pathologically hot key (90% of rows)
    left = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    plain = left.join(right, ["k"]).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"), F.sum("w").alias("sw")
    ).first()
    salted = salted_join(left, right, ["k"]).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"), F.sum("w").alias("sw")
    ).first()
    assert plain == salted


def test_bucketed_join_has_no_shuffle(spark, tmp_path_factory):
    """Bucketed bronze tables co-locate the join key: the sort-merge join
    plan must contain no Exchange on either side (the 100 TB link-join
    layout)."""
    # warehouse.dir is static config — use the session default (gitignored)
    a = spark.range(10_000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("a"))
    b = spark.range(10_000).select(F.col("id").alias("k"), (F.col("id") * 7).alias("b"))
    import shutil

    for t in ("bk_a", "bk_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    a.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bk_a")
    b.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bk_b")
    # force the sort-merge path (tiny test tables would broadcast otherwise)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bk_a").join(spark.table("bk_b"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan  # buckets co-locate
        assert j.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE bk_a")
        spark.sql("DROP TABLE bk_b")


def test_lsh_blocking_is_subset_of_exact(spark, sf_dir):
    from hiss_cube_spark.operators.similarity import cosine_pairs

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    exact = {
        (r["id_a"], r["id_b"]) for r in cosine_pairs(e, threshold=0.3).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs(e, threshold=0.3, use_lsh_blocking=True, n_planes=4).collect()
    }
    assert blocked <= exact  # candidates only drop pairs, never invent them
    # sign-LSH with 4 planes keeps most high-cos pairs (same-side probability
    # rises with cosine); just assert it found something if exact did
    if exact:
        assert blocked


def test_sql_surface(spark, sf_dir):
    from hiss_cube_spark.sql import register_tables, sql

    names = register_tables(spark, sf_dir)
    assert "lineitem" in names
    df = sql(spark, "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1")
    assert df.count() > 0


def test_prefix_filter_jaccard_is_exact(spark, sf_dir):
    """AllPairs prefix blocking must return EXACTLY the plain join's pairs —
    the pruning theorem (smallest common gram lies in both prefixes) is
    lossless, unlike LSH/df-cap blocking."""
    from hiss_cube_spark.operators.dedup import ngram_jaccard_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plain = sorted(tuple(r) for r in ngram_jaccard_pairs(d, threshold=0.8).collect())
    spark.catalog.clearCache()
    pref = sorted(
        tuple(r) for r in ngram_jaccard_pairs(d, threshold=0.8, prefix_filter=True).collect()
    )
    spark.catalog.clearCache()
    assert plain == pref and len(plain) > 0


def test_asof_join_directions(spark):
    """Backward and forward as-of joins on a hand-pinned case, including
    inclusive-tie and no-match rows."""
    from hiss_cube_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c"), (3, 7, "d")],
        "k int, ts int, tag string",
    )
    right = spark.createDataFrame(
        [(1, 5, 1.0), (1, 18, 2.0), (1, 20, 3.0), (2, 20, 4.0)],
        "k int, ts int, v double",
    )
    back = {
        (r.k, r.ts): r.v
        for r in asof_join(left, right, on="ts", by=("k",), direction="backward").collect()
    }
    assert back == {(1, 10): 1.0, (1, 20): 3.0, (2, 15): None, (3, 7): None}
    fwd = {
        (r.k, r.ts): r.v
        for r in asof_join(left, right, on="ts", by=("k",), direction="forward").collect()
    }
    assert fwd == {(1, 10): 2.0, (1, 20): 3.0, (2, 15): 4.0, (3, 7): None}


def test_range_join_bucket_blocking(spark):
    """Bucket blocking must (a) produce exactly the naive inequality join's
    matches, (b) execute as an equi hash/merge join — NOT the
    BroadcastNestedLoopJoin the naive plan degenerates to."""
    from hiss_cube_spark.operators.range_join import range_join

    pts = spark.range(0, 500).select((F.col("id") * 3 % 211).alias("x"))
    iv = spark.range(0, 60).select(
        F.col("id").alias("iv_id"),
        (F.col("id") * 7 % 150).alias("lo"),
        (F.col("id") * 7 % 150 + F.col("id") % 25).alias("hi"),
    )
    blocked = range_join(pts, iv, point_col="x", lo_col="lo", hi_col="hi", bucket_width=8)
    naive = pts.join(iv, (F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi")))
    assert sorted((r.x, r.iv_id) for r in blocked.collect()) == sorted(
        (r.x, r.iv_id) for r in naive.collect()
    )
    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in naive_plan  # what we are avoiding


def test_cosine_pairs_blocked_matches_expr(spark, sf_dir):
    """The numpy block kernel must reproduce the Catalyst quantized-dot
    expression bit-for-bit (same IEEE ops), across several block counts —
    including n_blocks > n_vectors (empty block-pairs)."""
    from hiss_cube_spark.operators.similarity import cosine_pairs, cosine_pairs_blocked

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    expected = sorted(tuple(r) for r in cosine_pairs(e, threshold=0.4, exact=True).collect())
    for n_blocks in (1, 4, 8):
        got = sorted(tuple(r) for r in cosine_pairs_blocked(e, threshold=0.4, n_blocks=n_blocks).collect())
        assert got == expected, f"n_blocks={n_blocks}"


def test_interval_overlap_join_no_duplicates(spark):
    """Pairs sharing many buckets must still emerge exactly once (the
    start-bucket rule), including containment and touching-endpoint cases."""
    from hiss_cube_spark.operators.range_join import interval_overlap_join

    a = spark.createDataFrame(
        [(1, 0, 100), (2, 10, 20), (3, 200, 210)], "id_a long, lo_a long, hi_a long"
    )
    b = spark.createDataFrame(
        [(10, 5, 95), (11, 100, 150), (12, 210, 300), (13, 400, 500)],
        "id_b long, lo_b long, hi_b long",
    )
    # bucket_width=1 → interval 1 shares ~90 buckets with interval 10
    out = interval_overlap_join(
        a, b, lo_left="lo_a", hi_left="hi_a", lo_right="lo_b", hi_right="hi_b", bucket_width=1
    ).select("id_a", "id_b").collect()
    got = sorted((r["id_a"], r["id_b"]) for r in out)
    assert got == [(1, 10), (1, 11), (2, 10), (3, 12)]


def test_repetition_score_pinned(spark):
    """Hand-computed repetition fractions, incl. the short-doc guards."""
    from hiss_cube_spark.operators.text_analysis import repetition_score

    docs = spark.createDataFrame(
        [
            (1, "a a a b"),        # dup: 1-2/4=0.5; bigrams [a a, a a, a b] -> 2/3
            (2, "x y z"),          # dup: 0; bigrams [x y, y z] -> 1/2
            (3, "w"),              # 1 token: no bigrams -> 0.0
            (4, "r r r r"),        # dup: 0.75; bigrams [r r]x3 -> 1.0
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_score(docs).collect()}
    assert got[1]["dup_token_frac"] == 0.5 and got[1]["top_gram_frac"] == round(2 / 3, 6)
    assert got[2]["dup_token_frac"] == 0.0 and got[2]["top_gram_frac"] == 0.5
    assert got[3]["n_tokens"] == 1 and got[3]["top_gram_frac"] == 0.0
    assert got[4]["dup_token_frac"] == 0.75 and got[4]["top_gram_frac"] == 1.0


def test_interval_overlap_join_negative_bounds(spark):
    """floor-division bucketing must stay correct for negative coordinates
    (floor, not truncation, so -3/2 -> bucket -2)."""
    from hiss_cube_spark.operators.range_join import interval_overlap_join

    a = spark.createDataFrame([(1, -10, -1), (2, -100, -50)], "id_a long, lo_a long, hi_a long")
    b = spark.createDataFrame(
        [(10, -5, 5), (11, -60, -55), (12, 0, 3)], "id_b long, lo_b long, hi_b long"
    )
    out = interval_overlap_join(
        a, b, lo_left="lo_a", hi_left="hi_a", lo_right="lo_b", hi_right="hi_b", bucket_width=7
    ).select("id_a", "id_b").collect()
    got = sorted((r["id_a"], r["id_b"]) for r in out)
    assert got == [(1, 10), (2, 11)]


def test_connected_components_random_vs_union_find(spark):
    """Random graphs: distributed min-label propagation must equal a
    driver-side union-find's min-id-per-component labelling."""
    import random

    from hiss_cube_spark.operators.clusters import connected_components

    for seed in (7, 42, 1234):
        rng = random.Random(seed)
        edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
        edges = [(a, b) for a, b in edges if a != b]

        parent = list(range(60))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp = {}
        for a, b in edges:
            for x in (a, b):
                r = find(x)
                comp[x] = min(comp.get(x, x), *(y for y in range(60) if find(y) == r))
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()}
        assert got == comp, f"seed={seed}"


def test_interval_overlap_random_vs_bruteforce(spark):
    """Random interval sets at several bucket widths must equal the O(n^2)
    overlap scan — no dropped pairs, no duplicated pairs."""
    import random

    from hiss_cube_spark.operators.range_join import interval_overlap_join

    rng = random.Random(99)
    A = [(i, rng.randrange(-50, 50)) for i in range(40)]
    A = [(i, lo, lo + rng.randrange(0, 20)) for i, lo in A]
    B = [(i, rng.randrange(-50, 50)) for i in range(40)]
    B = [(i, lo, lo + rng.randrange(0, 20)) for i, lo in B]
    expected = sorted(
        (ia, ib)
        for ia, la, ha in A
        for ib, lb, hb in B
        if la <= hb and lb <= ha
    )
    a = spark.createDataFrame(A, "id_a long, lo_a long, hi_a long")
    b = spark.createDataFrame(B, "id_b long, lo_b long, hi_b long")
    for w in (1, 5, 13):
        got = sorted(
            (r["id_a"], r["id_b"])
            for r in interval_overlap_join(
                a, b, lo_left="lo_a", hi_left="hi_a", lo_right="lo_b", hi_right="hi_b",
                bucket_width=w,
            ).select("id_a", "id_b").collect()
        )
        assert got == expected, f"bucket_width={w}"


def test_resample_locf_matches_bruteforce(spark):
    """Random event streams: the operator's dense grid must equal a plain
    Python LOCF simulation (grid span, survivor choice, fill, gap flags)."""
    import random

    from hiss_cube_spark.operators.timeseries import resample_locf

    rng = random.Random(11)
    bucket_us = 100
    rows = []
    eid = 0
    for key in range(6):
        for _ in range(rng.randint(1, 25)):
            rows.append((eid, key, rng.randint(0, 2000), float(rng.randint(0, 50))))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts_us long, value double")
    got = {
        (r["user_id"], r["bucket"]): (r["value"], r["is_gap"])
        for r in resample_locf(df, bucket_us=bucket_us).collect()
    }

    # brute force
    per_key: dict = {}
    for eid_, key, ts, v in rows:
        per_key.setdefault(key, []).append((ts, eid_, v))
    expect = {}
    for key, evs in per_key.items():
        by_bucket: dict = {}
        for ts, eid_, v in evs:
            b = ts // bucket_us
            cur = by_bucket.get(b)
            if cur is None or (ts, eid_) > (cur[0], cur[1]):
                by_bucket[b] = (ts, eid_, v)
        b0, b1 = min(by_bucket), max(by_bucket)
        last = None
        for b in range(b0, b1 + 1):
            if b in by_bucket:
                last = by_bucket[b][2]
                expect[(key, b)] = (last, 0)
            else:
                expect[(key, b)] = (last, 1)
    assert got == expect


def test_chunk_documents_reconstruction_property(spark):
    """Concatenating each chunk's stride-prefix (full last chunk) rebuilds
    the original token stream exactly, for random doc lengths."""
    import random

    from hiss_cube_spark.operators.curation import chunk_documents

    rng = random.Random(13)
    docs = []
    for doc_id in range(20):
        n = rng.randint(1, 90)
        docs.append((doc_id, " ".join(f"w{doc_id}_{i}" for i in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    size, overlap = 16, 5
    stride = size - overlap
    chunks: dict = {}
    for r in chunk_documents(df, size=size, overlap=overlap).collect():
        chunks.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r["chunk_text"].split(" ")
    for doc_id, text in docs:
        toks = text.split(" ")
        cs = [chunks[doc_id][i] for i in range(len(chunks[doc_id]))]
        rebuilt = []
        for c in cs[:-1]:
            # a non-final chunk carries at least a full stride (the next
            # start exists), though its overlap tail may be clipped by EOD
            assert len(c) >= stride
            rebuilt.extend(c[:stride])
        rebuilt.extend(cs[-1])
        assert rebuilt == toks, doc_id


def test_quality_checks_find_planted_violations(spark):
    from hiss_cube_spark.operators.quality_checks import (
        check_foreign_key,
        check_not_null,
        check_range,
        check_unique,
        constraint_report,
    )

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None), (4, 20)],
        "id long, ref long",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    checks = [
        check_foreign_key("fk", child, "ref", parent, "pk"),       # id 3 (99)
        check_unique("uniq", child, ["id"]),                       # both id-4 rows
        check_not_null("nn", child, "ref"),                        # one null
        check_range("rng", child, "ref", 0, 50),                   # 99 out of range
    ]
    got = {r["check_name"]: r["n_violations"] for r in constraint_report(spark, checks).collect()}
    assert got == {"fk": 1, "uniq": 2, "nn": 1, "rng": 1}
    # violating rows are retrievable per check
    assert [r["id"] for r in checks[0].violations().collect()] == [3]

    # empty source: folded predicate counts must report 0, not NULL
    empty = child.where(F.lit(False))
    ev = constraint_report(
        spark,
        [check_not_null("e_nn", empty, "ref"),
         check_range("e_rng", empty, "ref", 0, 50),
         check_unique("e_uniq", empty, ["id"])],
    ).collect()
    assert {r["check_name"]: r["n_violations"] for r in ev} == {
        "e_nn": 0, "e_rng": 0, "e_uniq": 0,
    }

    # a user column literally named "_n" survives check_unique
    with_n = child.withColumn("_n", F.col("id") * 100)
    rows = check_unique("u2", with_n, ["id"]).violations().collect()
    assert sorted(r["_n"] for r in rows) == [400, 400]


def test_plan_shapes_hold(spark, sf_dir):
    """Physical-plan regression guard: the properties the 100 TB story
    depends on must survive refactors (see PLANS.md for the full audits)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("_entry", "__spark_entry__.py")
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    qs = entry.queries()

    def plan(name):
        return qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()

    # chunking is a pure map: no exchange anywhere
    assert "Exchange" not in plan("cur_chunk_documents")
    # the flagship cross-match broadcasts the image side (no shuffle join)
    p = plan("flagship_ml_cube")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    # capped/deduping windows truncate on the map side before shuffling
    assert "WindowGroupLimit" in plan("cur_domain_cap")
    assert "WindowGroupLimit" in plan("cur_incremental_dedup")
    # profiling is one scan: exactly one FileScan in the plan
    assert plan("dq_profile_table").count("FileScan parquet") == 1
    # BM25: global top-k is a heap (never a sort) and there is no join
    # bigger than the 1-row stats broadcast
    p = plan("text_bm25_topk")
    assert "TakeOrderedAndProject" in p and "SortMergeJoin" not in p
    # weighted sampling: top-k heap, no shuffle of the corpus
    assert "TakeOrderedAndProject" in plan("cur_weighted_sample")
    # candidate-generating joins never degenerate to a cartesian product
    assert "CartesianProduct" not in plan("dedup_containment")
    assert "CartesianProduct" not in plan("ann_sq_topk")
    # the composed 6-stage curation funnel: no cartesian anywhere, the
    # pinned survivor-id stages ARE reused — as checkpoint RDD scans
    # since r14 (tagged `pins.pin`; InMemoryTableScan accepted for a
    # persist-pinned variant) — and the exchange count
    # stays bounded (47 at the r12 audit, 14 behind the r14 checkpoint
    # pins — a de-optimization that re-materializes stages from source
    # would blow well past this)
    p = plan("cur_full_pipeline")
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p or "InMemoryTableScan" in p
    assert p.count("Exchange") <= 60, p.count("Exchange")
    # streaming near-dup result: banded fingerprint join, never cartesian,
    # bounded exchanges (9 at audit time)
    p = plan("stream_neardup_minhash")
    assert "CartesianProduct" not in p
    assert p.count("Exchange") <= 15, p.count("Exchange")


def test_best_fuzzy_match_equals_bruteforce_no_cartesian(spark):
    """The escalating length-band blocker must return exactly the naive
    all-pairs nearest match (including the dist/candidate tie order) while
    planning as an equi hash join — no cartesian / nested-loop join. The
    candidate set deliberately includes far-length strings so at least one
    probe escalates past the initial band."""
    from hiss_cube_spark.operators.fuzzy import best_fuzzy_match

    probes = spark.createDataFrame(
        [("alpha",), ("gamma",), ("x",), ("a-very-long-probe-string",)],
        "n string",
    )
    cands = spark.createDataFrame(
        [("alpah",), ("gamut",), ("omega",), ("yz",),
         ("an-extremely-long-candidate-name-here",)],
        "c string",
    )
    naive = (
        probes.crossJoin(cands)
        .withColumn("dist", F.levenshtein("n", "c"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("n").orderBy("dist", "c")
            ),
        )
        .where("rn = 1")
        .select("n", F.col("c").alias("best_match"), "dist")
    )
    got = sorted(tuple(r) for r in best_fuzzy_match(probes, cands, "n", "c", initial_band=2).collect())
    assert got == sorted(tuple(r) for r in naive.collect())
    plan = (
        best_fuzzy_match(probes, cands, "n", "c", initial_band=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_bigram_lm_score_sampled_training_backoff(spark):
    """With a bounded training sample, scoring must still cover every
    document: bigrams unseen in training back off to P = k/(k·V) = 1/V,
    and capping above the corpus size reproduces exact corpus training."""
    from hiss_cube_spark.operators.text_analysis import bigram_lm_score

    df = spark.createDataFrame(
        [(i, "a b c") for i in range(10)] + [(99, "q r s")],
        "doc_id long, text string",
    )
    exact = {r.doc_id: r.lm_score for r in bigram_lm_score(df, max_train_docs=None).collect()}
    capped = {r.doc_id: r.lm_score for r in bigram_lm_score(df, max_train_docs=100).collect()}
    assert capped == exact  # cap above corpus size → identical

    # train only on the repeated docs: doc 99's bigrams are unseen → 1/V each
    train = df.where("doc_id < 90")
    held = bigram_lm_score(df, train_df=train, max_train_docs=None)
    got = {r.doc_id: r.lm_score for r in held.collect()}
    assert got[99] == round(1 / 2, 6)  # V = |{b, c}| = 2
    # fully-seen doc: P(b|a) = P(c|b) = (10+0.5)/(10+0.5·2)
    assert got[0] == round(10.5 / 11, 6)


def test_duplicated_span_fraction_pinned(spark):
    """Hand-derived coverage: cross-doc shared 5-gram covers 5 of 6 tokens
    in each doc; a within-doc repeated gram merges its overlapping windows
    to full coverage; short docs score 0. Hash and string key paths agree."""
    from hiss_cube_spark.operators.dedup import duplicated_span_fraction

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),       # shares 'a b c d e' with doc 2
            (2, "x a b c d e"),
            (3, "q r s"),             # under the gram width
            (4, "p p p p p p p p p p"),  # all 6 grams identical -> full cover
        ],
        "doc_id long, text string",
    )
    for hashed in (True, False):
        got = {
            r.doc_id: (r.n_tokens, r.dup_tokens, r.dup_fraction)
            for r in duplicated_span_fraction(df, n=5, hash_grams=hashed).collect()
        }
        assert got[1] == (6, 5, round(5 / 6, 6))
        assert got[2] == (6, 5, round(5 / 6, 6))
        assert got[3] == (3, 0, 0.0)
        assert got[4] == (10, 10, 1.0)


def test_simpson_diversity_pinned(spark):
    from hiss_cube_spark.operators.text_analysis import simpson_diversity

    df = spark.createDataFrame([(1, "a a b"), (2, "x y z w")], "doc_id long, text string")
    got = {r.doc_id: r for r in simpson_diversity(df).collect()}
    assert (got[1].n_tokens, got[1].n_distinct) == (3, 2)
    assert got[1].simpson == round(5 / 9, 6) and got[1].inv_simpson == 1.8
    assert got[2].simpson == 0.25 and got[2].inv_simpson == 4.0


def test_mixture_weights_pinned(spark):
    """60/40 corpus reshaped to a 50/25 target: weights t_s·N/n_s, with an
    untargeted source dropped (weight 0) and a targeted-but-absent source
    simply missing from the output (nothing to weight)."""
    from hiss_cube_spark.operators.curation import mixture_weights

    df = spark.createDataFrame(
        [(i, "web") for i in range(6)] + [(i, "code") for i in range(6, 10)],
        "doc_id long, source string",
    )
    got = {r.source: r for r in mixture_weights(df, {"web": 0.5, "code": 0.25, "books": 0.25}).collect()}
    assert set(got) == {"web", "code"}
    assert got["web"].n_docs == 6 and got["web"].actual_share == 0.6
    assert got["web"].weight == round(0.5 * 10 / 6, 6)
    assert got["code"].weight == round(0.25 * 10 / 4, 6)
    assert got["web"].expected_docs == 5.0 and got["code"].expected_docs == 2.5


def test_containment_catches_doc_in_doc_that_jaccard_misses(spark):
    from hiss_cube_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    quote = "alpha beta gamma delta epsilon zeta"
    host = quote + " " + " ".join(f"w{i} x{i} y{i}" for i in range(30))
    rows = [(1, quote), (2, host), (3, "totally different words here entirely now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = containment_pairs(df, threshold=0.9, n=3).collect()
    got = {(r["doc_contained"], r["doc_host"]): r["containment"] for r in pairs}
    assert (1, 2) in got and got[(1, 2)] == 1.0  # quote fully inside host
    assert (2, 1) not in got                      # asymmetric: host not in quote
    assert all(a != 3 and b != 3 for a, b in got)

    # the same pair scores far below any usable Jaccard threshold
    jac = ngram_jaccard_pairs(df, threshold=0.01, n=3).collect()
    j12 = [r["jaccard"] for r in jac if {r["doc_a"], r["doc_b"]} == {1, 2}]
    assert j12 and j12[0] < 0.1


def test_ks_drift_known_shift(spark):
    from hiss_cube_spark.operators.quality_checks import ks_drift

    rows = [("a", v) for v in range(1, 11)] + [("b", v) for v in range(6, 16)]
    df = spark.createDataFrame(rows, "grp string, v long")
    out = ks_drift(df, "v", "grp", "a", "b").collect()
    assert len(out) == 1
    r = out[0]
    # F_a(5)=0.5, F_b(5)=0 -> D=0.5, first attained at v=5
    assert r["ks_stat"] == 0.5
    assert r["at_value"] == 5
    assert r["n_a"] == 10 and r["n_b"] == 10

    same = ks_drift(df.where("grp='a'").unionByName(
        df.where("grp='a'").selectExpr("'b' AS grp", "v")), "v", "grp", "a", "b").collect()
    assert same[0]["ks_stat"] == 0.0  # identical distributions -> D=0


def test_asof_interpolate_pinned_cases(spark):
    from hiss_cube_spark.operators.asof import asof_interpolate

    probes = spark.createDataFrame(
        [(1, 5), (1, 10), (1, 15), (1, 0), (1, 30), (2, 7)],
        "k long, ts long",
    )
    quotes = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0)], "k long, ts long, v double"
    )
    got = {(r["k"], r["ts"]): r for r in asof_interpolate(
        probes, quotes, on="ts", by=("k",), value_col="v").collect()}
    assert got[(1, 5)]["v_interp"] == 100.0    # before series -> clamp to first
    assert got[(1, 10)]["v_interp"] == 100.0   # exact hit
    assert got[(1, 15)]["v_interp"] == 150.0   # midpoint
    assert got[(1, 0)]["v_interp"] == 100.0    # clamp
    assert got[(1, 30)]["v_interp"] == 200.0   # after series -> clamp to last
    assert got[(2, 7)]["v_interp"] is None     # key with no quotes
    assert got[(1, 15)]["prev_ts"] == 10 and got[(1, 15)]["next_ts"] == 20


def test_sql_functions_match_dataframe_api(spark):
    from hiss_cube_spark.functions.photometry import mag_to_flux
    from hiss_cube_spark.functions.timeparse import mjd_to_ts, ts_to_mjd
    from hiss_cube_spark.sql import register_functions

    names = register_functions(spark)
    assert {"mag_to_flux", "ts_to_mjd", "mjd_to_ts"} <= set(names)

    df = spark.createDataFrame(
        [(1.5, 4686.0, "2020-05-17 12:00:00")], "r double, wl double, t string"
    ).withColumn("ts", F.col("t").cast("timestamp"))
    df.createOrReplaceTempView("_fx")

    api = df.select(
        mag_to_flux(F.col("r"), F.col("wl")).alias("f"),
        ts_to_mjd(F.col("ts")).alias("mjd"),
    ).first()
    via_sql = spark.sql(
        "SELECT mag_to_flux(r, wl) AS f, ts_to_mjd(ts) AS mjd FROM _fx"
    ).first()
    assert via_sql["f"] == api["f"]
    assert via_sql["mjd"] == api["mjd"]
    # roundtrip through the SQL mjd_to_ts equals the API timestamp
    rt = spark.sql("SELECT mjd_to_ts(ts_to_mjd(ts)) AS ts2, ts FROM _fx").first()
    assert rt["ts2"] == rt["ts"]
    # bodies inline: the plan is pure project over the scan, no Python eval
    plan = spark.sql("SELECT mag_to_flux(r, wl) FROM _fx")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_remove_duplicated_spans_pinned(spark):
    """ExactSubstr removal semantics: the first occurrence of a duplicated
    5-gram survives intact, later occurrences lose exactly the covered
    tokens, untouched docs round-trip byte-identically."""
    from hiss_cube_spark.operators.dedup import remove_duplicated_spans

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "intro text then the quick brown fox jumps over and more"),
            (3, "totally unique words here nothing repeats at all"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in remove_duplicated_spans(df, n=5).collect()}
    assert got[1]["n_removed"] == 0
    assert got[1]["clean_text"] == "the quick brown fox jumps over the lazy dog"
    assert got[2]["n_removed"] == 6  # 'the quick brown fox jumps over'
    assert got[2]["clean_text"] == "intro text then and more"
    assert got[3]["n_removed"] == 0
    # hash-keyed and string-keyed paths agree
    s = {r["doc_id"]: r["clean_text"]
         for r in remove_duplicated_spans(df, n=5, hash_grams=False).collect()}
    assert s == {k: v["clean_text"] for k, v in got.items()}
    # a doc that is entirely a duplicated span empties, not vanishes
    df2 = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], "doc_id long, text string"
    )
    got2 = {r["doc_id"]: r for r in remove_duplicated_spans(df2, n=5).collect()}
    assert got2[1]["clean_text"] == "a b c d e"
    assert got2[2]["clean_text"] == "" and got2[2]["n_removed"] == 5


def test_jsonl_corpus_roundtrip_and_corrupt_capture(spark, tmp_path_factory):
    from hiss_cube_spark.sources.jsonl_corpus import (
        read_jsonl_corpus,
        write_jsonl_corpus,
    )

    d = str(tmp_path_factory.mktemp("jsonl"))
    df = spark.createDataFrame(
        [(1, 'uni"çode\ntext', "en", "web", 13), (2, "plain", "de", "book", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    write_jsonl_corpus(df, d, shards=1)
    back = read_jsonl_corpus(spark, d)
    rows = {r["doc_id"]: r for r in back.where("_corrupt IS NULL").collect()}
    assert rows[1]["text"] == 'uni"çode\ntext'  # escapes round-trip
    assert rows[2]["source"] == "book"
    # malformed line lands in _corrupt instead of failing the scan
    import os

    with open(os.path.join(d, "bad.json"), "w") as fh:
        fh.write('{"doc_id": 3, "text": "ok"}\nnot json at all\n')
    # (Spark refuses queries touching ONLY the corrupt column — always
    # project a data column alongside it)
    rows2 = read_jsonl_corpus(spark, d).select("doc_id", "_corrupt").collect()
    assert sum(1 for r in rows2 if r["_corrupt"] is not None) == 1
    assert sum(1 for r in rows2 if r["doc_id"] == 3) == 1


def test_dbscan_embeddings_planted_blobs(spark):
    """Two dense orthogonal blobs become two clusters of cores labelled by
    their min id; isolated vectors are noise; the blocked-kernel and
    pure-expression eps-graphs yield identical assignments."""
    import numpy as np

    from hiss_cube_spark.operators.similarity import dbscan_embeddings

    rng = np.random.default_rng(9)
    u = rng.standard_normal(64); u /= np.linalg.norm(u)
    v = rng.standard_normal(64); v -= (v @ u) * u; v /= np.linalg.norm(v)
    rows = []
    for i in range(5):   # blob A: ids 0-4
        x = u + 0.02 * rng.standard_normal(64)
        rows.append((i, [float(t) for t in x / np.linalg.norm(x)]))
    for i in range(5, 9):  # blob B: ids 5-8
        x = v + 0.02 * rng.standard_normal(64)
        rows.append((i, [float(t) for t in x / np.linalg.norm(x)]))
    for i in range(9, 12):  # isolated
        x = rng.standard_normal(64)
        rows.append((i, [float(t) for t in x / np.linalg.norm(x)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in dbscan_embeddings(df, threshold=0.9, min_pts=3).collect()}
    assert all(out[i]["role"] == "core" and out[i]["cluster_id"] == 0 for i in range(5))
    assert all(out[i]["role"] == "core" and out[i]["cluster_id"] == 5 for i in range(5, 9))
    assert all(out[i]["role"] == "noise" and out[i]["cluster_id"] is None for i in range(9, 12))
    expr = {r["vec_id"]: (r["role"], r["cluster_id"])
            for r in dbscan_embeddings(df, threshold=0.9, min_pts=3, blocked=False).collect()}
    assert expr == {k: (r["role"], r["cluster_id"]) for k, r in out.items()}


def test_dbscan_pluggable_pair_source(spark):
    """The eps-graph is pluggable: a caller-supplied `pairs` DataFrame
    (the 100 TB path — e.g. MinHash/LSH-bucketed candidates) drives the
    same degree/core/CC machinery. Supplying the 0-1-2 triangle plus a
    3-4 edge yields one 3-core cluster and, at min_pts=3, non-core 3/4."""
    from hiss_cube_spark.operators.similarity import dbscan_embeddings

    corpus = spark.createDataFrame(
        [(i, [1.0] * 4) for i in range(6)], "vec_id long, embedding array<float>"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (3, 4)], "id_a long, id_b long"
    )
    out = {
        r["vec_id"]: (r["role"], r["cluster_id"])
        for r in dbscan_embeddings(corpus, min_pts=3, pairs=pairs).collect()
    }
    assert out[0] == ("core", 0) and out[1] == ("core", 0) and out[2] == ("core", 0)
    # 3 and 4 have one neighbor each -> not core; no core neighbor -> noise
    assert out[3] == ("noise", None) and out[4] == ("noise", None)
    assert out[5] == ("noise", None)


def test_dbscan_min_pts_one_singletons_are_cores(spark):
    """DBSCAN defines every point as core of its own singleton cluster at
    min_pts=1 — including points with ZERO eps-neighbors, which never
    appear in the edge list (degrees are left-joined from the corpus id
    set, not derived from the eps-graph alone)."""
    from hiss_cube_spark.operators.similarity import dbscan_embeddings

    corpus = spark.createDataFrame(
        [(7, [1.0] * 4), (8, [1.0] * 4), (9, [1.0] * 4)],
        "vec_id long, embedding array<float>",
    )
    pairs = spark.createDataFrame([(7, 8)], "id_a long, id_b long")
    out = {
        r["vec_id"]: (r["role"], r["cluster_id"])
        for r in dbscan_embeddings(corpus, min_pts=1, pairs=pairs).collect()
    }
    assert out[7] == ("core", 7) and out[8] == ("core", 7)
    # 9 has no eps-neighbor at all, yet is its own singleton core
    assert out[9] == ("core", 9)


def test_dbscan_lsh_blocked_full_recall_on_scaled_copies(spark):
    """Sign-LSH buckets are scale-invariant, so direction-identical
    copies (the duplicate-nest workload) keep ALL within-blob edges under
    LSH blocking: blocked DBSCAN == exact DBSCAN on planted blobs."""
    import numpy as np

    from hiss_cube_spark.operators.similarity import dbscan_embeddings

    rng = np.random.default_rng(21)
    rows = []
    for b in range(3):
        base = rng.standard_normal(64)
        for j in range(5):
            rows.append(
                (b * 10 + j, [float(t * (1.0 + j / 20.0)) for t in base])
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        r["vec_id"]: (r["role"], r["cluster_id"])
        for r in dbscan_embeddings(df, threshold=0.9, min_pts=3).collect()
    }
    lsh = {
        r["vec_id"]: (r["role"], r["cluster_id"])
        for r in dbscan_embeddings(
            df, threshold=0.9, min_pts=3, use_lsh_blocking=True
        ).collect()
    }
    assert lsh == exact
    assert all(lsh[b * 10 + j] == ("core", b * 10) for b in range(3) for j in range(5))
