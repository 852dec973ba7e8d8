"""Round-12 operator tests: BPE batched merges + round guard + lineage
checkpoint cadence (VERDICT r11 #6, ADVICE items), and the bucketed
astronomy-side flagship layout."""

import pytest
from pyspark.sql import functions as F


def _seq_reference(freqs: dict[str, int], k: int):
    """Canonical sequential BPE (no end marker) — the tokenizer test law."""
    from collections import Counter

    table = {tuple(w): c for w, c in freqs.items()}
    want = []
    for rnd in range(1, k + 1):
        pc = Counter()
        for sym, c in table.items():
            for i in range(len(sym) - 1):
                pc[(sym[i], sym[i + 1])] += c
        if not pc:
            break
        top = max(pc.values())
        a, b = min(p for p, c in pc.items() if c == top)
        want.append((rnd, a, b, top))
        nxt = {}
        for sym, c in table.items():
            out, i = [], 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            nxt[tuple(out)] = nxt.get(tuple(out), 0) + c
        table = nxt
    return want


def test_bpe_round_guard_raises(spark):
    from hiss_cube_spark.operators.tokenizer import learn_bpe_merges

    words = spark.createDataFrame([("abab", 3)], "word string, f long")
    with pytest.raises(ValueError, match="max_rounds"):
        learn_bpe_merges(words, n_merges=10_000, merge_batch=1, max_rounds=512)
    with pytest.raises(ValueError, match="merge_batch"):
        learn_bpe_merges(words, n_merges=4, merge_batch=0)
    # batching brings rounds under the cap when the winners are disjoint
    words2 = spark.createDataFrame(
        [("ab", 3), ("cd", 2)], "word string, f long"
    )
    got = learn_bpe_merges(words2, n_merges=2, merge_batch=2, max_rounds=1)
    assert got.count() == 2


def test_bpe_batched_disjoint_alphabets_match_sequential(spark):
    """Two non-interacting sub-alphabets: batched selection takes both
    top pairs in one round and the merge SET (pairs + counts) must equal
    sequential BPE's."""
    from hiss_cube_spark.operators.tokenizer import learn_bpe_merges

    freqs = {"abab": 10, "cdcd": 9, "ab": 5, "cd": 4}
    words = spark.createDataFrame(list(freqs.items()), "word string, f long")
    seq = _seq_reference(freqs, 4)
    got = [
        (r.left_sym, r.right_sym, r.pair_count)
        for r in learn_bpe_merges(words, n_merges=4, merge_batch=2)
        .orderBy("round", "left_sym")
        .collect()
    ]
    assert sorted(got) == sorted((a, b, n) for _, a, b, n in seq)
    # and the batch really did halve the rounds
    rounds = {
        r["round"]
        for r in learn_bpe_merges(words, n_merges=4, merge_batch=2).collect()
    }
    assert rounds == {1, 2}


def test_bpe_batched_skips_token_sharing_pairs(spark):
    """A candidate sharing a token with a selected pair must wait for the
    next round (its count would be stale after the winner applies)."""
    from hiss_cube_spark.operators.tokenizer import learn_bpe_merges

    # round 1 counts: (a,b)=12 wins; (b,c)=11 shares 'b' -> deferred even
    # at merge_batch=2; (x,y)=9 is disjoint -> batches with (a,b)
    freqs = {"ab": 12, "bc": 11, "xy": 9}
    words = spark.createDataFrame(list(freqs.items()), "word string, f long")
    got = [
        (r["round"], r.left_sym, r.right_sym, r.pair_count)
        for r in learn_bpe_merges(words, n_merges=3, merge_batch=2)
        .orderBy("round", F.desc("pair_count"))
        .collect()
    ]
    assert got[0] == (1, "a", "b", 12)
    assert got[1] == (1, "x", "y", 9)
    assert got[2] == (2, "b", "c", 11)


def test_bucketed_flagship_plans_zero_shuffle(spark, sf_dir):
    """The astronomy-side bucketed workload (VERDICT r11 #7): the
    cutout_refs⋈spectra dereference join AND the per-(spectrum, band) ivw
    aggregate must plan with ZERO shuffle Exchanges — the ARRAY-heavy
    spectra table rides the pay-once bucketed layout."""
    import __spark_entry__ as entrymod
    from hiss_cube_spark.plans.bucketing import join_exchange_count

    try:
        df = entrymod.queries()["j_bucketed_flagship"](spark, sf_dir)
        assert join_exchange_count(df) == 0
        rows = df.collect()
        assert len(rows) > 0
        assert all(r.n_refs >= 1 for r in rows)
        # the bucketed spectra table really carries the array column
        flds = dict(
            (f.name, f.dataType.simpleString())
            for f in spark.table("hc_bkt_spectra").schema.fields
        )
        assert flds["flux"] == "array<double>"
    finally:
        spark.sql("DROP TABLE IF EXISTS hc_bkt_spectra")
        spark.sql("DROP TABLE IF EXISTS hc_bkt_cutout_refs")


def test_bucketed_layout_dir_scoped_per_user_and_corpus(tmp_path):
    """ADVICE r11: the layout root must differ per corpus (and carry the
    user), so concurrent processes on different corpora cannot race."""
    import __spark_entry__ as entrymod

    a = entrymod._bucketed_layout_dir("/root/testdata/sf0.01", "oc")
    b = entrymod._bucketed_layout_dir("/root/testdata/sf0.1", "oc")
    c = entrymod._bucketed_layout_dir("/root/testdata/sf0.01", "fl")
    assert a != b and a != c
    assert entrymod._bucketed_layout_dir("/root/testdata/sf0.01", "oc") == a


def test_bpe_review_pins(spark):
    """r12 self-review fixes: a run that exhausts max_rounds with merges
    still owed raises LOUDLY instead of returning a silently short merge
    table (token-sharing winners under-fill batches); natural pair
    exhaustion still returns short."""
    from hiss_cube_spark.operators.tokenizer import learn_bpe_merges

    words = spark.createDataFrame(
        [("ab", 12), ("bc", 11)], "word string, f long"
    )
    # (a,b) wins round 1; (b,c) shares 'b' so the batch under-fills, and
    # max_rounds=1 leaves a merge owed -> loud error
    with pytest.raises(ValueError, match="under-fill"):
        learn_bpe_merges(words, n_merges=2, merge_batch=2, max_rounds=1)
    # natural exhaustion stays a legitimate short return: single-pair vocab
    one = spark.createDataFrame([("ab", 3)], "word string, f long")
    got = learn_bpe_merges(one, n_merges=5).collect()
    assert [(r.left_sym, r.right_sym) for r in got] == [("a", "b")]


def test_bucketed_layout_parent_is_private(tmp_path, monkeypatch):
    """r12 self-review: the layout root lives under a 0700 per-user parent
    (a predictable name alone is pre-creatable by other users on shared
    hosts); a foreign-owned parent must be refused loudly."""
    import os
    import stat

    import __spark_entry__ as entrymod

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    try:
        p = entrymod._bucketed_layout_dir("/root/testdata/sf0.01", "oc")
        parent = os.path.dirname(p)
        assert parent.startswith(str(tmp_path))
        mode = stat.S_IMODE(os.stat(parent).st_mode)
        assert mode == 0o700
    finally:
        tempfile.tempdir = None


def test_embedding_decontaminate_modes(spark):
    """keep_matches=True reports (id, n_matches, max_cosine); the default
    anti-join returns clean train rows with original columns; decisions
    agree between the two modes and with a numpy brute force."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.standard_normal((4, 8))
    rows = []
    # test vectors 0..3; train 10..17 = near-copies of test (contaminated)
    # and fresh directions (clean)
    for i in range(4):
        rows.append((i, [float(x) for x in base[i]]))
    for j in range(4):
        rows.append((10 + j, [float(x) for x in base[j] + 0.01 * rng.standard_normal(8)]))
    fresh = rng.standard_normal((4, 8))
    for j in range(4):
        rows.append((14 + j, [float(x) for x in fresh[j]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    from hiss_cube_spark.operators.curation import embedding_decontaminate

    train = df.where(F.col("vec_id") >= 10)
    test = df.where(F.col("vec_id") < 4)
    rep = embedding_decontaminate(train, test, threshold=0.95, keep_matches=True)
    flagged = {r.vec_id for r in rep.collect()}

    # numpy truth
    tv = {r.vec_id: np.array(r.embedding) for r in train.collect()}
    bv = [np.array(r.embedding) for r in test.collect()]
    want = {
        i
        for i, v in tv.items()
        if any(v @ b / (np.linalg.norm(v) * np.linalg.norm(b)) >= 0.95 - 1e-9 for b in bv)
    }
    assert flagged == want == {10, 11, 12, 13}

    clean = embedding_decontaminate(train, test, threshold=0.95)
    assert {r.vec_id for r in clean.collect()} == {14, 15, 16, 17}
    assert clean.columns == train.columns  # original shape preserved

    # the chunked-matmul kernel and the pure-expression path agree exactly
    # (quantized dots are bit-identical — the cosine_pairs_blocked pin)
    expr_rep = embedding_decontaminate(
        train, test, threshold=0.95, keep_matches=True, use_kernel=False
    )
    k = {(r.vec_id, r.n_matches, round(r.max_cosine, 12)) for r in rep.collect()}
    e = {
        (r.vec_id, r.n_matches, round(r.max_cosine, 12))
        for r in expr_rep.collect()
    }
    assert k == e
    # expression path's scale shape: benchmark side broadcasts
    plan = expr_rep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # kernel path's scale shape: the report is map-side only — no exchange
    kplan = rep._jdf.queryExecution().executedPlan().toString()
    import re as _re

    assert not _re.search(r"(?<![A-Za-z])Exchange\b", kplan)
    # empty benchmark: nothing flagged, train unchanged
    empty = test.where(F.lit(False))
    assert embedding_decontaminate(train, empty, keep_matches=True).count() == 0
    assert embedding_decontaminate(train, empty).count() == train.count()


def test_bpe_checkpoint_cadence_preserves_sequence(spark):
    """Seven merges over pinned generations (each superseded one released
    mid-training) must be bit-identical to the python loop."""
    import random

    from hiss_cube_spark.operators.tokenizer import learn_bpe_merges

    rng = random.Random(11)
    vocab = ["banana", "bandana", "ananas", "cabana", "nab", "ban"]
    freqs: dict[str, int] = {}
    for _ in range(300):
        w = vocab[rng.randrange(len(vocab))]
        freqs[w] = freqs.get(w, 0) + 1
    words = spark.createDataFrame(list(freqs.items()), "word string, f long")
    want = _seq_reference(freqs, 7)
    got = [
        (r["round"], r.left_sym, r.right_sym, r.pair_count)
        for r in learn_bpe_merges(words, n_merges=7)
        .orderBy("round")
        .collect()
    ]
    assert got == want
