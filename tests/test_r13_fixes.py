"""Round-13 ADVICE fixes: embedding_decontaminate id-type preservation +
benchmark collect budget + broadcast lifecycle, bucketed-layout symlink
refusal, BPE trainer checkpoint-generation unpersist skip."""

import os

import pytest
from pyspark.sql import functions as F


def _vec_df(spark, rows, id_type="long"):
    return spark.createDataFrame(
        rows, f"vec_id {id_type}, embedding array<double>"
    )


def test_emb_decontaminate_string_ids_kernel(spark):
    """ADVICE r12: the kernel path cast ids to long, silently nulling
    string doc ids (report lost ids; anti-join removed nothing). The id
    must ride through in its original type, kernel ≡ expression path."""
    from hiss_cube_spark.operators.curation import embedding_decontaminate

    train = _vec_df(
        spark,
        [
            ("doc-a", [1.0, 0.0, 0.0]),
            ("doc-b", [0.0, 1.0, 0.0]),
            ("doc-c", [0.96, 0.28, 0.0]),
        ],
        id_type="string",
    )
    test = _vec_df(spark, [("bench-1", [1.0, 0.0, 0.0])], id_type="string")

    rep = embedding_decontaminate(
        train, test, threshold=0.9, keep_matches=True
    ).collect()
    assert sorted(r["vec_id"] for r in rep) == ["doc-a", "doc-c"]
    assert all(r["vec_id"] is not None for r in rep)

    clean = embedding_decontaminate(train, test, threshold=0.9)
    assert sorted(r["vec_id"] for r in clean.collect()) == ["doc-b"]

    # expression path agrees row-for-row
    rep_expr = embedding_decontaminate(
        train, test, threshold=0.9, keep_matches=True, use_kernel=False
    ).collect()
    assert sorted((r["vec_id"], r["n_matches"]) for r in rep) == sorted(
        (r["vec_id"], r["n_matches"]) for r in rep_expr
    )


def test_emb_decontaminate_rejects_unsupported_id_type(spark):
    from hiss_cube_spark.operators.curation import embedding_decontaminate

    train = _vec_df(spark, [(1.5, [1.0, 0.0])], id_type="double")
    test = _vec_df(spark, [(9.0, [1.0, 0.0])], id_type="double")
    with pytest.raises(TypeError, match="use_kernel=False"):
        embedding_decontaminate(train, test, keep_matches=True)
    # the expression path still serves exotic id types
    got = embedding_decontaminate(
        train, test, threshold=0.9, keep_matches=True, use_kernel=False
    )
    assert got.count() == 1


def test_emb_decontaminate_benchmark_budget(spark):
    """VERDICT r12 #4 / ADVICE: a mis-aimed large 'benchmark' must fail
    loudly instead of OOMing the driver collect."""
    from hiss_cube_spark.operators.curation import (
        BenchmarkBudgetExceeded,
        embedding_decontaminate,
    )

    train = _vec_df(spark, [(1, [1.0, 0.0])])
    big_test = _vec_df(spark, [(i, [1.0, 0.0]) for i in range(64)])
    with pytest.raises(BenchmarkBudgetExceeded, match="bounded by definition"):
        embedding_decontaminate(
            train, big_test, keep_matches=True, max_benchmark_rows=8
        )
    with pytest.raises(BenchmarkBudgetExceeded):
        embedding_decontaminate(
            train, big_test, keep_matches=True, max_benchmark_bytes=64
        )
    # within budget still works
    ok = embedding_decontaminate(
        train, big_test, threshold=0.9, keep_matches=True,
        max_benchmark_rows=64,
    )
    assert ok.count() == 1


def test_emb_decontaminate_broadcast_single_tenant(spark):
    """Repeated kernel calls must not accumulate executor broadcast
    copies (registry holds exactly one, the latest call's) — while a
    DataFrame returned by an EARLIER call stays collectable after a
    newer call (unpersist re-ships from the driver; destroy would
    strand it — the bug the full-suite r12 test caught)."""
    from hiss_cube_spark.operators import curation

    train = _vec_df(spark, [(1, [1.0, 0.0])])
    test = _vec_df(spark, [(2, [1.0, 0.0])])
    rep1 = curation.embedding_decontaminate(train, test, keep_matches=True)
    rep1.count()
    first = curation._EMB_DECON_BC["bc"]
    curation.embedding_decontaminate(train, test, keep_matches=True).count()
    second = curation._EMB_DECON_BC["bc"]
    assert first is not second
    assert len(curation._EMB_DECON_BC) == 1
    # the earlier result must survive the swap
    assert rep1.count() == 1


def test_bucketed_layout_parent_symlink_refused(tmp_path, monkeypatch):
    """ADVICE r12 (medium): os.stat follows symlinks, so a pre-created
    symlink parent pointing at a victim-owned directory passed the uid
    check. lstat + S_ISLNK must refuse it; permissive modes too."""
    import tempfile

    import __spark_entry__ as entry

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    victim_target = tmp_path / "home_dir"
    victim_target.mkdir()
    try:
        user = __import__("getpass").getuser()
    except (KeyError, OSError):
        user = f"uid{os.getuid()}"
    parent = tmp_path / f"hc_bucketed_{user}"

    parent.symlink_to(victim_target)
    with pytest.raises(RuntimeError, match="symlink"):
        entry._bucketed_layout_dir("/root/testdata/sf0.001", "t")
    parent.unlink()

    # a plain file squatting on the name is refused too
    parent.write_text("")
    with pytest.raises(RuntimeError, match="not a"):
        entry._bucketed_layout_dir("/root/testdata/sf0.001", "t")
    parent.unlink()

    # a pre-existing parent with group/other bits is refused
    parent.mkdir(mode=0o755)
    os.chmod(parent, 0o755)
    with pytest.raises(RuntimeError, match="permissive"):
        entry._bucketed_layout_dir("/root/testdata/sf0.001", "t")
    os.chmod(parent, 0o700)

    # the happy path yields a per-corpus leaf under the private parent
    leaf = entry._bucketed_layout_dir("/root/testdata/sf0.001", "t")
    assert leaf.startswith(str(parent))


def test_caption_retrieval_planted_and_recall_vs_exact(spark, sf_dir):
    """mm_caption_retrieval contract: (a) the planted truth — every
    query's top-2 text candidates are its triple-mates and every
    retrieval passes the cross-modal image check; (b) the recall
    companion — the BANDED candidate ranking equals the brute-force
    exact hamming ranking (recall@2 = 1.0), so the sub-quadratic scale
    path loses nothing on this corpus."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry
    from pyspark.sql.window import Window

    got = entry.mm_caption_retrieval(spark, sf_dir).collect()
    n_docs = min(
        120,
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") < 120)
        .count(),
    )
    expect = {
        (q, r, True)
        for q in range(n_docs)
        for r in range(n_docs)
        if q != r and q // 3 == r // 3
    }
    assert {(r["query_id"], r["retrieved_id"], r["img_match"]) for r in got} == expect
    assert all(r["img_match"] for r in got)

    # recall companion: banded top-2 ≡ exact brute-force hamming top-2
    from hiss_cube_spark.operators.dedup import simhash_fingerprints

    synth = entry._caption_retrieval_corpus(spark, sf_dir)
    fp = simhash_fingerprints(
        synth.select("doc_id", F.col("caption").alias("text"))
    )
    a = fp.select(F.col("doc_id").alias("query_id"), F.col("simhash").alias("fa"))
    b = fp.select(F.col("doc_id").alias("retrieved_id"), F.col("simhash").alias("fb"))
    exact = (
        a.join(b, F.col("query_id") != F.col("retrieved_id"))
        .withColumn("hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("hamming", "retrieved_id")
            ),
        )
        .where(F.col("rnk") <= 2)
        .select("query_id", "retrieved_id")
        .collect()
    )
    # compare over FULL triples only: a partial-triple query (corpus not
    # a multiple of 3) has fewer than 2 in-radius candidates, so its
    # exact rank-2 is a far cross-triple doc the threshold-banded
    # retrieval correctly never surfaces
    full = 3 * (n_docs // 3)
    exact_pairs = {
        (r["query_id"], r["retrieved_id"]) for r in exact if r["query_id"] < full
    }
    banded_pairs = {
        (r["query_id"], r["retrieved_id"]) for r in got if r["query_id"] < full
    }
    recall = len(banded_pairs & exact_pairs) / len(exact_pairs)
    assert recall == 1.0
    assert banded_pairs == exact_pairs


def test_incremental_dedup_bucketed_index_plan(spark, sf_dir, tmp_path):
    """VERDICT r12 #6: with the fingerprint index written bucketed by
    ``fp`` (n_buckets == the batch's shuffle partitioning), the
    anti-join's ONLY shuffle is the batch's own first-occurrence window
    — the index side contributes ZERO Exchanges, and values are
    identical to the plain-index plan."""
    from hiss_cube_spark.operators.curation import (
        build_dedup_index,
        incremental_dedup,
    )
    from hiss_cube_spark.plans.bucketing import (
        join_exchange_count,
        write_bucketed,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    idx = build_dedup_index(docs.where(F.col("doc_id") < 400))
    write_bucketed(
        idx, "idx_fp_bucketed_t", str(tmp_path / "idx"), ["fp"], n_buckets=8
    )
    batch = docs.where(F.col("doc_id") >= 300)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the fact⋈fact strategy a 100 TB index would use anyway
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        surv = incremental_dedup(batch, spark.table("idx_fp_bucketed_t"))
        assert join_exchange_count(surv) == 1  # batch window only
        got = sorted(r["doc_id"] for r in surv.select("doc_id").collect())
        # plain (non-bucketed) index must agree value-for-value
        plain = incremental_dedup(batch, idx)
        assert join_exchange_count(plain) >= 2  # both sides shuffle
        want = sorted(r["doc_id"] for r in plain.select("doc_id").collect())
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS idx_fp_bucketed_t")


def test_blocklist_filter_exact_counts(spark):
    from hiss_cube_spark.operators.curation import blocklist_filter

    df = spark.createDataFrame(
        [
            (1, "aa bb aa bb cc"),
            (2, "aa bb"),
            (3, "zz zz zz"),
            (4, "aa bbaa bb"),  # 'aa bb' occurs at 0 and 5 (non-overlapping)
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_phrases"], r["total_hits"], r["blocked"])
        for r in blocklist_filter(df, ["aa bb", "cc"], min_hits=2).collect()
    }
    assert got[1] == (2, 3, True)  # 'aa bb' twice + 'cc' once
    assert got[2] == (1, 1, False)
    assert got[3] == (0, 0, False)
    assert got[4] == (1, 2, True)

    with pytest.raises(ValueError, match="at least one"):
        blocklist_filter(df, [])
    with pytest.raises(ValueError, match="empty"):
        blocklist_filter(df, ["ok", ""])


def test_blocklist_automaton_equals_expression(spark):
    """The Aho-Corasick kernel and the replace-identity expression engine
    must agree bit-for-bit, including overlapping-occurrence cases
    ('aaaa'/'aa' -> greedy non-overlap = 2) and patterns that are
    substrings/suffixes of each other."""
    import random

    from hiss_cube_spark.operators.curation import blocklist_filter

    rng = random.Random(13)
    vocab = ["aa", "ab", "ba", "b", "aab", "ca"]
    rows = [(0, "aaaa"), (1, "aabab"), (2, ""), (3, None)]
    rows += [
        (i, "".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(4, 60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    phrases = ["aa", "aab", "ba", "ab"]

    def canon(res):
        return sorted(
            (r["doc_id"], r["n_phrases"], r["total_hits"], r["blocked"])
            for r in res.collect()
        )

    expr = canon(blocklist_filter(df, phrases, min_hits=3))
    auto = canon(blocklist_filter(df, phrases, min_hits=3, use_automaton=True))
    assert expr == auto
    # planted greedy-non-overlap pin: 'aaaa' has 'aa' at 0 and 2 only
    d0 = [r for r in auto if r[0] == 0][0]
    assert d0[2] == 2 + 0 + 0 + 0  # 'aa' twice; 'aab'/'ba'/'ab' absent
    # None text flows through the kernel as zero hits
    full = blocklist_filter(df, phrases, use_automaton=True).collect()
    d3 = [r for r in full if r["doc_id"] == 3][0]
    assert (d3["n_phrases"], d3["total_hits"], d3["blocked"]) == (0, 0, False)


def test_woe_iv_binning_hand_computed(spark):
    import math

    from hiss_cube_spark.operators.curation import woe_iv_binning

    df = spark.createDataFrame(
        [(1, 1.0, True), (2, 2.0, True), (3, 3.0, True), (4, 4.0, False)],
        "k long, x double, y boolean",
    )
    got = {
        r["bin"]: r
        for r in woe_iv_binning(df, "x", "y", n_bins=2, order_col="k").collect()
    }
    # bin 1 = {1,2}: 2 pos / 0 neg; bin 2 = {3,4}: 1 pos / 1 neg; P=3, N=1
    assert (got[1]["n_pos"], got[1]["n_neg"]) == (2, 0)
    assert (got[2]["n_pos"], got[2]["n_neg"]) == (1, 1)
    w1 = math.log((2.5 / 3) / (0.5 / 1))
    assert got[1]["woe"] == round(w1, 6)
    assert got[1]["iv_term"] == round((2.5 / 3 - 0.5 / 1) * w1, 6)
    # perfectly balanced bin: smoothing keeps shares equal -> woe 0 only
    # when pos/neg shares match; here (1.5/3) vs (1.5/1) differ
    w2 = math.log((1.5 / 3) / (1.5 / 1))
    assert got[2]["woe"] == round(w2, 6)


def test_bpe_checkpointed_generation_survives_recompute(spark, distributed_regime):
    """ADVICE r12: releasing a pinned generation deletes the blocks its
    truncated lineage depends on, so a generation may go only once its
    successor is materialized. With every generation pinned the merge
    table must still match sequential BPE."""
    from hiss_cube_spark.operators.tokenizer import learn_bpe_merges

    words = spark.createDataFrame(
        [("abab", 5), ("abc", 3), ("bc", 2)], "word string, f long"
    )
    got = learn_bpe_merges(words, n_merges=3, merge_batch=1).orderBy("round")
    rows = [(r["left_sym"], r["right_sym"], r["pair_count"]) for r in got.collect()]
    assert rows[0] == ("a", "b", 13)  # ab appears 2*5 + 3 times
    assert len(rows) == 3
