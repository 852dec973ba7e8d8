"""Pins (`hiss_cube_spark.pins`) and the iterative operators that free them.

Grouped by operator: the pin primitives, connected components over a
narrow pin, BPE training's generation release, and the guard that keeps
every ``localCheckpoint`` in the engine behind `pins`.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from hiss_cube_spark.operators.clusters import connected_components
from hiss_cube_spark.operators.tokenizer import learn_bpe_merges
from hiss_cube_spark.pins import pin, pin_narrow, release, scope

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _live_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}


# -- pin primitives ----------------------------------------------------------


def test_pin_narrow_shrinks_and_preserves_rows(spark):
    df = spark.range(2000).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    ).repartition(32)
    out = pin_narrow(df)
    # 2000 tiny rows are far below one 32 MB target partition
    assert out.rdd.getNumPartitions() == 1
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))


def test_pin_narrow_keeps_an_already_narrow_pin(spark):
    df = spark.range(100).repartition(1)
    out = pin_narrow(df)
    assert out.rdd.getNumPartitions() == 1
    assert out._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"


def test_release_removes_the_pinned_rdd(spark):
    for make in (lambda: pin(spark.range(50), eager=True),
                 lambda: pin_narrow(spark.range(50).repartition(8))):
        before = _live_rdds(spark)
        p = make()
        assert _live_rdds(spark) - before
        release(p)
        assert _live_rdds(spark) <= before


def test_tagged_pin_keeps_one_live_pin_per_tag(spark):
    before = _live_rdds(spark)
    for n in (10, 20):
        p = pin(spark.range(n), eager=True, tag="test_pins:one-per-tag")
        assert p.count() == n
        assert len(_live_rdds(spark) - before) == 1
    release(p)


def test_scope_releases_only_the_pins_made_inside(spark):
    outer = pin(spark.range(5), eager=True)
    before = _live_rdds(spark)
    with scope():
        pin(spark.range(7), eager=True)
        assert _live_rdds(spark) - before
    assert _live_rdds(spark) == before
    assert outer.count() == 5
    release(outer)


# -- connected components ----------------------------------------------------


def test_connected_components_identical_after_narrow_pin(spark):
    # two chains + a singleton pair, emitted wide so the edge pin has
    # many near-empty partitions before it is narrowed inside CC
    rows = [(1, 2), (2, 3), (10, 11), (11, 12), (20, 21)]
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long").repartition(32)
    before = _live_rdds(spark)
    cc = connected_components(pairs)
    # only the result's label pin outlives the call
    assert len(_live_rdds(spark) - before) == 1
    got = {(r["node"], r["cluster_id"]) for r in cc.collect()}
    want = {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }
    assert got == want


# -- BPE training ------------------------------------------------------------


def test_learn_bpe_merges_leaves_no_generation_pinned(spark):
    words = spark.createDataFrame(
        [("abab", 5), ("abc", 3), ("bc", 2)], "word string, f long"
    )
    before = _live_rdds(spark)
    got = learn_bpe_merges(words, n_merges=3).orderBy("round").collect()
    assert [(r.left_sym, r.right_sym) for r in got][0] == ("a", "b")
    assert len(got) == 3
    assert _live_rdds(spark) <= before


def test_learn_bpe_merges_honours_spark_default_aqe(spark, monkeypatch):
    """With ``spark.sql.adaptive.enabled`` unset, Spark's built-in default
    (on) applies, so the trainer relies on AQE sizing and never adds an
    explicit repartition."""
    calls = []
    real = DataFrame.repartition

    def spy(self, *args, **kwargs):
        calls.append(args)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "repartition", spy)
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.unset(key)
    try:
        words = spark.createDataFrame([("abab", 5), ("bc", 2)], "word string, f long")
        got = learn_bpe_merges(words, n_merges=2).collect()
    finally:
        spark.conf.set(key, old)
    assert len(got) == 2
    assert calls == []


# -- guard -------------------------------------------------------------------


def test_checkpoints_only_in_pins_module():
    """Every engine pin goes through `pins`; tests and tools/ are exempt."""
    pattern = re.compile(r"\.(localCheckpoint|checkpoint)\(")
    files = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _, names in os.walk(os.path.join(REPO, "hiss_cube_spark")):
        files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    offenders = []
    for path in files:
        if os.path.relpath(path, REPO) == os.path.join("hiss_cube_spark", "pins.py"):
            continue
        with open(path, encoding="utf-8") as f:
            for i, line in enumerate(f, 1):
                if pattern.search(line):
                    offenders.append(f"{os.path.relpath(path, REPO)}:{i}")
    assert offenders == []
