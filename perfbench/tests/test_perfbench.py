"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import corpus  # noqa: E402
import ledger  # noqa: E402
import measure  # noqa: E402
import tables  # noqa: E402

EVENT_LOG = os.path.join(HERE, "data", "eventlog.jsonl")


def _parsed():
    with open(EVENT_LOG) as f:
        return ledger.parse_event_log(f)


def test_parser_reads_groups_tasks_and_python_metrics():
    jobs = _parsed()
    groups = {j["group"] for j in jobs.values()}
    assert {"pb-1", "pb-2"} <= groups
    for j in jobs.values():
        assert j["end"] >= j["start"]
        assert j["sums"]["spark.tasks"] >= 1
        assert 0 < j["ran"] <= j["planned"]
    udf = [j for j in jobs.values() if j["group"] == "pb-2"]
    assert sum(j["sums"].get("python.run_s", 0) for j in udf) > 0
    assert sum(j["sums"].get("python.sent_mb", 0) for j in udf) > 0
    pinned = [j for j in jobs.values() if j["group"] == "pb-1"]
    assert sum(j["sums"]["spark.shuffle_write_mb"] for j in pinned) > 0
    assert sum(j["sums"]["spark.pinned_mb"] for j in pinned) > 0


def test_layer_metrics_charge_jobs_to_their_op():
    jobs = _parsed()
    starts = [j["start"] for j in jobs.values()]
    ends = [j["end"] for j in jobs.values()]
    t0, t1 = min(starts) - 1.0, max(ends) + 1.0
    spans = ledger.Spans()
    spans.spans = [
        {"id": 0, "name": "q", "kind": "op", "parent": None, "start": t0, "end": t1},
        {"id": 1, "name": "entry.q", "kind": "construct", "parent": 0, "start": t0, "end": (t0 + t1) / 2},
        {"id": 2, "name": "action.q", "kind": "action", "parent": 0, "start": (t0 + t1) / 2, "end": t1},
    ]
    m = ledger.layer_metrics(spans, jobs, [0], cores=4)
    n1 = sum(1 for j in jobs.values() if j["group"] == "pb-1")
    n2 = sum(1 for j in jobs.values() if j["group"] == "pb-2")
    assert (m["spark.jobs_construct"], m["spark.jobs_action"]) == (n1, n2)
    assert m["spark.job_union_s"] + m["spark.driver_gap_s"] == pytest.approx(t1 - t0)
    assert m["op.construct_s"] + m["op.action_s"] == pytest.approx(t1 - t0)
    assert set(ledger.LEDGER_KEYS) <= set(m)


def test_interval_union_and_self_time():
    assert ledger.interval_union([(0, 2), (1, 3), (5, 6)]) == 4
    spans = ledger.Spans()
    spans.spans = [
        {"id": 0, "name": "op", "kind": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "kind": "action", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "kind": "action", "parent": 0, "start": 3.0, "end": 6.0},
    ]
    assert spans.self_times() == {0: 5.0, 1: 3.0, 2: 3.0}


def test_build_layers_report_phase_shares():
    import workloads

    spans = ledger.Spans()
    spans.spans = [
        {"id": 0, "name": "build0", "kind": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "pipeline.ingest", "kind": "action", "parent": 0, "start": 0.0, "end": 4.0},
        {"id": 2, "name": "pipeline.link", "kind": "action", "parent": 0, "start": 4.0, "end": 5.0},
    ]
    got = workloads.build_layers(spans, [0], 2.5)
    assert got["pipeline.ingest_share"] == pytest.approx(0.4)
    assert got["pipeline.link_share"] == pytest.approx(0.1)
    assert got["operators.sfr_share"] == 0.0
    assert got["storage.warehouse_bytes_per_input_byte"] == 2.5


def test_tail_percentile_needs_ten_samples_beyond():
    assert measure.tail_percentile(range(10)) is None
    assert measure.tail_percentile(range(11)) == (100.0 / 11, 0)
    pct, v = measure.tail_percentile(range(100))
    assert (pct, v) == (90.0, 89)
    assert sum(1 for x in range(100) if x > v) == 10


def test_fingerprint_is_order_free_and_rejects_one_perturbed_row():
    df = pd.DataFrame({"b": [1.5, 2.25, None], "a": ["x", "y", "z"], "c": [[1, 2], [3], []]})
    n, h = measure.fingerprint(df)
    assert n == 3
    shuffled = df.iloc[[2, 0, 1]][["c", "a", "b"]].reset_index(drop=True)
    assert measure.fingerprint(shuffled) == (n, h)
    bad = df.copy()
    bad.loc[1, "b"] = 2.2500001
    assert measure.fingerprint(bad) != (n, h)


def _tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_generators_are_byte_identical_per_seed(tmp_path):
    p = corpus.CorpusParams()
    digests = []
    for run, seed in (("a", 5), ("b", 5), ("c", 6)):
        corpus.write_fits_corpus(str(tmp_path / run / "fits"), p, seed)
        tables.write_tables(str(tmp_path / run / "tables"), seed)
        digests.append(_tree_digest(str(tmp_path / run)))
    assert digests[0] == digests[1] != digests[2]


def test_corpus_laws_match_the_layout(tmp_path):
    p = corpus.CorpusParams()
    keys = corpus.write_fits_corpus(str(tmp_path), p, 3)
    frames = [f for _, _, fs in os.walk(tmp_path / "images") for f in fs]
    specs = [f for _, _, fs in os.walk(tmp_path / "spectra") for f in fs]
    assert len(frames) == p.n_fields * len(corpus.BANDS)
    assert len(specs) == len(keys) == p.n_spectra
    # frame rows above 32 KB, so the vector-batch clamp engages
    assert 8 * p.width * p.height > 32 * 1024
    info, sfr, n_match = corpus.catalog_rows(p, keys, 3)
    assert len(info) == len(sfr) == 2 * n_match
    exp = corpus.expected_counts(p, n_match, 2)
    assert exp["cutout_refs"] == 5 * 5 * (2 * p.n_fields + 2 * p.n_edge_spectra)


def test_gold_expectation_and_its_check(tmp_path):
    import workloads

    p = corpus.CorpusParams()
    corpus.write_fits_corpus(str(tmp_path), p, 4)
    gold = corpus.expected_gold(str(tmp_path), p)
    targets = {t for t, _ in gold["spectra"]}
    assert len(targets) == p.n_fields + p.n_edge_spectra
    assert len(gold["spectra"]) == len(targets) * corpus.ZOOMS
    assert len(gold["images"]) == len(targets) * corpus.ZOOMS * len(corpus.BANDS)
    assert len(gold["viz"]) == p.n_spectra * corpus.ZOOMS
    assert workloads._mismatches(dict(gold["spectra"]), gold["spectra"], "t") == []
    key = min(gold["spectra"])
    off = dict(gold["spectra"])
    flux = off[key][0].copy()
    flux[7] *= 1 + 1e-5
    off[key] = (flux, off[key][1])
    assert workloads._mismatches(off, gold["spectra"], "t")
    off[key] = (gold["spectra"][key][0][::-1], gold["spectra"][key][1])
    assert workloads._mismatches(off, gold["spectra"], "t")
    off.pop(key)
    assert workloads._mismatches(off, gold["spectra"], "t")


def test_local_threads():
    assert measure.local_threads("local[4]", 8) == 4
    assert measure.local_threads("local[*]", 8) == 8
    assert measure.local_threads("local", 8) == 1


def test_benchmark_json_lists_what_the_runs_print():
    import json

    import run

    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == run.per_layer_names()
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: run._unit(k) for k in run.per_layer_names()}
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
