"""The benchmark's workloads: ``cube_build`` and ``curation_ops``.

Each workload is one closed-loop client: the next operation starts when the
previous one returned. An operation is one full ``create`` build on
``cube_build`` and one registry query on ``curation_ops``. Every call into
the engine is wrapped in a span (see ``ledger.Spans``), so the traced run can
charge Spark jobs to the call that fired them.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

import corpus
import tables
from measure import fingerprint

#: Registry queries of ``curation_ops``: the ROADMAP's iterative-operator and
#: pin targets (connected components, label propagation, BPE rounds), whose
#: time goes to Spark jobs fired while the DataFrame is built, plus a pandas
#: kernel (cross-modal dedup), whose time goes to Python workers.
CURATION_QUERIES = (
    "dedup_clusters", "graph_label_propagation", "text_bpe_train", "mm_crossmodal_dedup",
)
#: ``curation_ops`` reads one fixed table set; the run seed orders the
#: queries of every round. Reference fingerprints (reference.json) were
#: taken from a run whose every result matched the DuckDB oracle SQL.
TABLES_SEED = 20261017
EXPORT_ZOOM = 2
PIPELINE_TABLES = ("images", "spectra", "cutout_refs", "ml_cube_spectra", "ml_cube_images",
                   "visualization_cube")
#: the build's phases, each reported per layer as its share of the build's
#: wall time (a phase time would read 0 on every run of ``curation_ops``)
PHASES = ("pipeline.ingest", "pipeline.link", "pipeline.ml_cube", "pipeline.viz",
          "sources.export", "operators.sfr")
#: relative tolerance of the gold-table values: the build's ivw adds a
#: target's spectra in shuffle order, the expectation in file order
GOLD_RTOL = 1e-6
HERE = os.path.dirname(os.path.abspath(__file__))


def build_layers(spans, op_ids: list[int], storage_ratio: float) -> dict[str, float]:
    """Per-layer figures of the cube build: each phase's share of its op's
    wall time (mean over ``op_ids``) and warehouse bytes per FITS input
    byte; 0 where no build ran."""
    out = {f"{p}_share": 0.0 for p in PHASES}
    for sid in op_ids:
        op = spans.spans[sid]
        for s in spans.spans:
            if s["parent"] == sid and s["name"] in PHASES:
                out[f"{s['name']}_share"] += (
                    (s["end"] - s["start"]) / (op["end"] - op["start"]) / len(op_ids))
    out["storage.warehouse_bytes_per_input_byte"] = storage_ratio
    return out


class Failures:
    """Operations attempted and failed, with the first few reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.reasons) < 20:
            self.reasons.append(why)


def _timed_loop(seconds: float, one_round) -> float:
    """Run whole rounds, ``one_round(0)``, ``one_round(1)``, ..., until
    ``seconds`` of timed work have elapsed; return the timed wall time."""
    t0 = time.perf_counter()
    rnd = 0
    while True:
        one_round(rnd)
        rnd += 1
        if time.perf_counter() - t0 >= seconds:
            return time.perf_counter() - t0


class CurationOps:
    name = "curation_ops"

    def __init__(self, spark, spans, work: str, seed: int, fails: Failures):
        import __spark_entry__ as entry

        self.spark, self.spans, self.fails = spark, spans, fails
        self.seed = seed
        self.data = os.path.join(work, "tables")
        self.registry = entry.queries()
        with open(os.path.join(HERE, "reference.json")) as f:
            self.reference = json.load(f)["curation_ops"]
        self.latency: dict[str, list[float]] = {q: [] for q in CURATION_QUERIES}
        self.ops: list[int] = []

    def setup(self) -> dict:
        tables.write_tables(self.data, TABLES_SEED)
        # warm-up: one round, each result collected and checked
        for q in self._order(-1):
            self._run(q, check=True)
        return {"queries": list(CURATION_QUERIES), "tables_seed": TABLES_SEED}

    def _order(self, rnd: int) -> list[str]:
        rng = np.random.default_rng([self.seed, rnd + 1])
        return [CURATION_QUERIES[i] for i in rng.permutation(len(CURATION_QUERIES))]

    def _run(self, q: str, check: bool = False) -> None:
        self.fails.attempted += 1
        try:
            with self.spans.span(q, "op") as op:
                with self.spans.span(f"entry.{q}", "construct"):
                    df = self.registry[q](self.spark, self.data)
                with self.spans.span(f"action.{q}", "action"):
                    if check:
                        pdf = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
            self.fails.fail(f"{q}: {type(e).__name__}: {str(e)[:200]}")
            return
        if check:
            got = list(fingerprint(pdf))
            if got != self.reference.get(q):
                self.fails.fail(f"{q}: fingerprint {got} != reference {self.reference.get(q)}")
        else:
            self.ops.append(op["id"])
            self.latency[q].append(op["end"] - op["start"])

    def measure(self, seconds: float) -> float:
        def one_round(rnd: int) -> None:
            for q in self._order(rnd):
                self._run(q)

        return _timed_loop(seconds, one_round)

    def detail(self) -> dict:
        return {}

    def layer_figures(self) -> dict[str, float]:
        return build_layers(self.spans, self.ops, 0.0)


class CubeBuild:
    name = "cube_build"

    def __init__(self, spark, spans, work: str, seed: int, fails: Failures):
        self.spark, self.spans, self.fails = spark, spans, fails
        self.seed = seed
        self.work = work
        self.src = os.path.join(work, "corpus")
        self.params = corpus.CorpusParams()
        self.latency: dict[str, list[float]] = {"build": []}
        self.ops: list[int] = []
        self.storage_ratio: list[float] = []
        self.stats: dict = {}

    def setup(self) -> dict:
        keys = corpus.write_fits_corpus(self.src, self.params, self.seed)
        n_match = corpus.write_catalogs(self.spark, self.src, self.params, keys, self.seed)
        self.expected = corpus.expected_counts(self.params, n_match, EXPORT_ZOOM)
        self.gold = corpus.expected_gold(self.src, self.params)
        self.input_bytes = _dir_bytes(os.path.join(self.src, "images")) + _dir_bytes(
            os.path.join(self.src, "spectra"))
        return {"corpus": self.params.as_dict(), "expected": self.expected,
                "fits_bytes": self.input_bytes}

    def _build(self, wh: str):
        from pyspark.sql import functions as F

        from hiss_cube_spark.operators.sfr import spectra_with_sfr
        from hiss_cube_spark.plans.pipeline import CubePipeline
        from hiss_cube_spark.sources.exports import write_fits_table, write_votable
        from hiss_cube_spark.sources.fits import read_fits_table_df
        from hiss_cube_spark.sources.ingest import ingest_images, ingest_spectra

        p, s, sp = self.params, self.src, self.spans
        with sp.span("sources.ingest", "construct"):
            images = ingest_images(self.spark, os.path.join(s, "images"))
            spectra = ingest_spectra(self.spark, os.path.join(s, "spectra"),
                                     rebin_samples=p.rebin_samples)
            pipe = CubePipeline(self.spark, wh, match_radius_deg=p.match_radius_deg,
                                cutout_size=p.cutout)
        with sp.span("pipeline.ingest", "action"):
            pipe.phase_ingest(images, spectra)
        with sp.span("pipeline.link", "action"):
            pipe.phase_link()
        with sp.span("pipeline.ml_cube", "action"):
            pipe.phase_ml_cube()
        with sp.span("pipeline.viz", "action"):
            pipe.phase_visualization()
        with sp.span("sources.export", "action"):
            one = pipe.read("visualization_cube").where(F.col("zoom") == EXPORT_ZOOM)
            write_votable(one, pipe.path("export.vot"))
            write_fits_table(one, pipe.path("export.fits"))
        with sp.span("sources.catalogs", "construct"):
            info = read_fits_table_df(self.spark, os.path.join(s, "gal_info.fits"))
            sfr = read_fits_table_df(self.spark, os.path.join(s, "gal_sfr.fits"))
        with sp.span("operators.sfr", "action"):
            meta = pipe.read("spectra").where(F.col("zoom") == 0).select(
                F.col("plateid").alias("PLATEID"), F.col("mjd").alias("MJD"),
                F.col("fiberid").alias("FIBERID"), "spec_id")
            spectra_with_sfr(meta, info, sfr).write.mode("overwrite").parquet(
                pipe.path("spectra_sfr"))
        return pipe

    def _check(self, pipe) -> None:
        """Cardinality laws of the corpus, export row counts, SFR matches,
        and the gold tables' keys and value sums (``corpus.expected_gold``)."""
        from pyspark.sql import functions as F

        from hiss_cube_spark.sources.exports import read_votable
        from hiss_cube_spark.sources.fits import parse_fits_bintable

        exp = self.expected
        bad = [f"{t} rows {pipe.stats.get(t)} != {exp[t]}" for t in PIPELINE_TABLES
               if pipe.stats.get(t) != exp[t]]
        _, vot_rows = read_votable(pipe.path("export.vot"))
        if len(vot_rows) != exp["export_rows"]:
            bad.append(f"votable rows {len(vot_rows)} != {exp['export_rows']}")
        with open(pipe.path("export.fits"), "rb") as f:
            fits_rows = len(next(iter(parse_fits_bintable(f.read(), hdu_index=1).values())))
        if fits_rows != exp["export_rows"]:
            bad.append(f"fits rows {fits_rows} != {exp['export_rows']}")
        sfr = self.spark.read.parquet(pipe.path("spectra_sfr")).agg(
            F.count(F.lit(1)).alias("n"), F.count("AVG").alias("matched")).head()
        if (sfr["n"], sfr["matched"]) != (exp["spectra_sfr"], exp["spectra_sfr_matched"]):
            bad.append(f"spectra_sfr {tuple(sfr)} != "
                       f"{(exp['spectra_sfr'], exp['spectra_sfr_matched'])}")
        gold = self.gold
        spec = pipe.read("ml_cube_spectra").select("target_id", "zoom", "flux", "sigma").collect()
        bad += _mismatches({(r[0], r[1]): (r[2], r[3]) for r in spec}, gold["spectra"],
                           "ml_cube_spectra")
        if len(spec) != len(gold["spectra"]):
            bad.append(f"ml_cube_spectra has {len(spec)} rows for {len(gold['spectra'])} keys")
        img = pipe.read("ml_cube_images").select("target_id", "zoom", "band").collect()
        if len(img) != len(gold["images"]) or set(map(tuple, img)) != gold["images"]:
            bad.append("ml_cube_images (target_id, zoom, band) keys differ from the corpus'")
        viz = (pipe.read("visualization_cube").where(F.col("fits_name") == F.col("spec_fits_name"))
               .groupBy("spec_fits_name", "zoom")
               .agg(F.sort_array(F.collect_list(F.struct("wl", "mean")))).collect())
        bad += _mismatches({(r[0], r[1]): [p[1] for p in r[2]] for r in viz}, gold["viz"],
                           "visualization_cube spectrum samples")
        for b in bad:
            self.fails.fail(b)

    def _one(self) -> None:
        i = len(self.latency["build"])
        wh = os.path.join(self.work, f"warehouse{i}")
        self.fails.attempted += 1
        try:
            with self.spans.span(f"build{i}", "op") as op:
                pipe = self._build(wh)
        except Exception as e:  # noqa: BLE001 - a failed build is counted, the loop goes on
            self.fails.fail(f"build{i}: {type(e).__name__}: {str(e)[:200]}")
            return
        self.latency["build"].append(op["end"] - op["start"])
        self.ops.append(op["id"])
        self.stats = dict(pipe.stats)
        self.storage_ratio.append(_dir_bytes(wh) / self.input_bytes)
        try:
            with self.spans.span(f"check{i}", "check"):
                self._check(pipe)
        except Exception as e:  # noqa: BLE001
            self.fails.fail(f"build{i} check: {type(e).__name__}: {str(e)[:200]}")
        shutil.rmtree(wh, ignore_errors=True)

    def measure(self, seconds: float) -> float:
        return _timed_loop(seconds, lambda rnd: self._one())

    def detail(self) -> dict:
        phases = {}
        for s in self.spans.spans:
            if s["parent"] is not None and self.spans.spans[s["parent"]]["kind"] == "op":
                phases.setdefault(s["name"], []).append(s["end"] - s["start"])
        return {"phase_mean_s": {k: sum(v) / len(v) for k, v in phases.items()},
                "table_rows": self.stats}

    def layer_figures(self) -> dict[str, float]:
        ratio = sum(self.storage_ratio) / len(self.storage_ratio) if self.storage_ratio else 0.0
        return build_layers(self.spans, self.ops, ratio)


WORKLOADS = {w.name: w for w in (CubeBuild, CurationOps)}


def _mismatches(got: dict, want: dict, what: str) -> list[str]:
    """Why ``got`` (key -> numbers or arrays) differs from ``want``, if it does."""
    if got.keys() != want.keys():
        return [f"{what}: {len(got.keys() - want.keys())} unexpected keys, "
                f"{len(want.keys() - got.keys())} missing"]
    return [f"{what} {k}: values differ" for k in sorted(want)
            if np.shape(got[k]) != np.shape(want[k])
            or not np.allclose(got[k], want[k], rtol=GOLD_RTOL, atol=0.0, equal_nan=True)][:3]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)
