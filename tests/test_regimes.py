"""The two regimes of the iterative operators.

Connected components, label propagation and BPE training run their rounds
on the driver when their pinned working set stores at most one narrow
partition, and as Spark jobs per round above that. Every unit-test input
elsewhere in the suite is small enough for the driver regime, so this
module reruns those tests in the distributed regime (the
``distributed_regime`` fixture) and checks on random inputs that both
regimes return the same rows.
"""

from __future__ import annotations

from unittest import mock

import pytest
import test_curation
import test_r10_ops
import test_r11_ops
import test_r12_ops
import test_r13_fixes
import test_r13_optimizations
import test_scale_ops
from hypothesis import given, settings
from hypothesis import strategies as st

from hiss_cube_spark import pins
from hiss_cube_spark.operators.clusters import connected_components
from hiss_cube_spark.operators.graph import label_propagation
from hiss_cube_spark.operators.tokenizer import learn_bpe_merges

# tests written against the default regime, which their inputs put on the
# driver
_DRIVER_BY_DEFAULT = [
    test_curation.test_connected_components_chain_and_clique,
    test_r10_ops.test_label_propagation_finer_than_cc,
    test_r11_ops.test_learn_bpe_merges_matches_reference_loop,
    test_r11_ops.test_learn_bpe_merges_tolerates_empty_words,
    test_r11_ops.test_learn_bpe_merges_quote_safe_symbols,
    test_r12_ops.test_bpe_round_guard_raises,
    test_r12_ops.test_bpe_batched_disjoint_alphabets_match_sequential,
    test_r12_ops.test_bpe_batched_skips_token_sharing_pairs,
    test_r12_ops.test_bpe_review_pins,
    test_r12_ops.test_bpe_checkpoint_cadence_preserves_sequence,
    test_r13_optimizations.test_cc_symmetric_and_materialized_flags_identical,
    test_scale_ops.test_connected_components_random_vs_union_find,
]


@pytest.mark.parametrize("case", _DRIVER_BY_DEFAULT, ids=lambda f: f.__name__)
def test_existing_case_in_distributed_regime(spark, distributed_regime, case):
    case(spark)


def test_generation_release_case_in_driver_regime(spark):
    # its own module runs it in the distributed regime, where generations
    # are pinned and released; the fixture argument is not needed here
    test_r13_fixes.test_bpe_checkpointed_generation_survives_recompute(spark, None)


def _both_regimes(run):
    """``run()`` in the default (here: driver) regime, then with every pin
    reported above the narrow-partition bound."""
    driver = run()
    with mock.patch.object(
        pins, "stored_bytes", lambda df: pins._NARROW_PARTITION_BYTES + 1
    ):
        distributed = run()
    return driver, distributed


@given(
    # small id range: duplicate edges, self-loops and both orientations
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=25
    ),
)
@settings(max_examples=12, deadline=None)
def test_graph_regimes_return_identical_rows(spark, edges):
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    for op in (
        lambda: connected_components(pairs),
        lambda: label_propagation(pairs, src_col="doc_a", dst_col="doc_b", iterations=3),
    ):
        driver, distributed = _both_regimes(lambda: sorted(map(tuple, op().collect())))
        assert driver == distributed


@given(
    vocab=st.lists(
        st.tuples(st.text(alphabet="abc'", max_size=7), st.integers(1, 20)),
        min_size=1,
        max_size=12,
    ),
    n_merges=st.integers(1, 6),
    merge_batch=st.sampled_from([1, 2]),
)
@settings(max_examples=12, deadline=None)
def test_bpe_regimes_return_identical_rows(spark, vocab, n_merges, merge_batch):
    words = spark.createDataFrame(vocab, "word string, f long")
    driver, distributed = _both_regimes(
        lambda: [
            tuple(r)
            for r in learn_bpe_merges(
                words, n_merges=n_merges, merge_batch=merge_batch
            )
            .orderBy("round", "left_sym", "right_sym")
            .collect()
        ]
    )
    assert driver == distributed
