"""End-to-end domain engine tests on FIXTURES.md-shaped synthetic data:
link join, ML cube, visualization cube (row-count law), SFR join, pipeline
phases, exports, FITS source self-consistency."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.astro_fixtures import (
    BANDS,
    N_SPECTRA,
    SPEC_N,
    ZOOMS,
    make_images,
    make_sfr_tables,
    make_spectra,
)

CUTOUT = 16  # 64-px reference cutouts scaled to the 64×48 toy frames


@pytest.fixture(scope="module")
def images(spark):
    df = make_images(spark).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def spectra(spark):
    df = make_spectra(spark).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def refs(spark, images, spectra):
    from hiss_cube_spark.operators.link import build_cutout_refs

    r = build_cutout_refs(
        spectra.where(F.col("zoom") == 0),
        images.where(F.col("zoom") == 0),
        match_radius_deg=0.01,
        zooms=ZOOMS,
        cutout_size=CUTOUT,
        max_refs=200,
    ).cache()
    r.count()
    return r


def test_fixture_shapes(images, spectra):
    assert images.where(F.col("zoom") == 0).count() == 185
    assert spectra.where(F.col("zoom") == 0).count() == N_SPECTRA
    assert images.count() == 185 * ZOOMS


def test_link_refs(refs, spectra):
    # every spectrum sits at a field center → matches its field's 5 bands
    z0 = refs.where(F.col("zoom") == 0)
    per_spec = {r["spec_id"]: r["n"] for r in z0.groupBy("spec_id").agg(F.count("*").alias("n")).collect()}
    assert set(per_spec) == set(range(N_SPECTRA))
    assert all(n == 5 for n in per_spec.values())
    # bounds are within the zoom-0 frame and the right size
    bad = z0.where(
        (F.col("x_max") - F.col("x_min") != CUTOUT) | (F.col("y_max") - F.col("y_min") != CUTOUT)
    ).count()
    assert bad == 0


_WCS_CASE = st.fixed_dictionaries({
    # spectrum position; the image centre and crval sit within 0.05° of it
    "dec": st.floats(-60, 60),
    "d_img": st.tuples(st.floats(-0.04, 0.04), st.floats(-0.04, 0.04)),
    "d_crval": st.tuples(st.floats(-0.05, 0.05), st.floats(-0.05, 0.05)),
    "naxis": st.tuples(st.integers(8, 2048), st.integers(8, 2048)),
    "crpix": st.tuples(st.floats(-50, 2100), st.floats(-50, 2100)),
    # deg/px of either sign, kept off zero so float32 rounding cannot make
    # the determinant vanish
    "cd": st.tuples(*[st.floats(1e-5, 1e-3) | st.floats(-1e-3, -1e-5)] * 4)
    .filter(lambda c: abs(c[0] * c[3] - c[1] * c[2]) > 1e-10),
})


def _numpy_cutout_refs(cases, wcs_type: str, cutout_size: int, zooms: int) -> set:
    """The link's bounds in numpy float64, in the engine's operation order:
    crpix/2^z + (cd2_2·2^z·Δra − cd1_2·2^z·Δdec)/det_z, then floor − half."""
    to = np.float32 if wcs_type == "float" else np.float64
    out = set()
    for i, c in enumerate(cases):
        ra, dec = np.float64(5.0 + 3.0 * i), np.float64(c["dec"])
        crpix1, crpix2, cd11, cd12, cd21, cd22 = (
            np.float64(to(v)) for v in (*c["crpix"], *c["cd"])
        )
        crval1 = np.float64(to(ra + c["d_crval"][0]))
        crval2 = np.float64(to(dec + c["d_crval"][1]))
        for z in range(zooms):
            f = np.float64(1 << z)
            size = max(cutout_size >> z, 1)
            a11, a12, a21, a22 = cd11 * f, cd12 * f, cd21 * f, cd22 * f
            det = a11 * a22 - a12 * a21
            dra, ddec = ra - crval1, dec - crval2
            x = crpix1 / f + (a22 * dra - a12 * ddec) / det
            y = crpix2 / f + (a11 * ddec - a21 * dra) / det
            x0 = int(np.floor(x)) - size // 2
            y0 = int(np.floor(y)) - size // 2
            n1, n2 = int(c["naxis"][0] / f), int(c["naxis"][1] / f)
            if x0 >= 0 and y0 >= 0 and x0 + size <= n1 and y0 + size <= n2:
                out.add((i, 100 + i, z, x0, x0 + size, y0, y0 + size))
    return out


@settings(max_examples=25, deadline=None)
@given(
    cases=st.lists(_WCS_CASE, min_size=1, max_size=6),
    wcs_type=st.sampled_from(["float", "double"]),
    cutout_size=st.integers(1, 96),
)
def test_link_bounds_match_numpy_float64(spark, cases, wcs_type, cutout_size):
    """`build_cutout_refs`' per-zoom bounds and wholeness filter equal a
    float64 evaluation of the same operation order, bit for bit, over
    random linear WCS (non-singular CD), positions, cutout sizes and zooms
    0–4. Each spectrum matches only its own image (3° apart)."""
    from hiss_cube_spark.operators.link import build_cutout_refs

    spectra = spark.createDataFrame(
        [(i, 5.0 + 3.0 * i, c["dec"]) for i, c in enumerate(cases)],
        "spec_id long, plug_ra double, plug_dec double",
    )
    t = wcs_type
    images = spark.createDataFrame(
        [
            (
                100 + i, 5.0 + 3.0 * i + c["d_img"][0], c["dec"] + c["d_img"][1],
                "r", 6166, *c["naxis"],
                (*c["crpix"], *c["cd"], 5.0 + 3.0 * i + c["d_crval"][0],
                 c["dec"] + c["d_crval"][1], "RA---TAN", "DEC--TAN"),
                0.0,
            )
            for i, c in enumerate(cases)
        ],
        "image_id long, ra double, dec double, band string, wl int, "
        "naxis1 int, naxis2 int, "
        f"wcs struct<crpix1:{t}, crpix2:{t}, cd1_1:{t}, cd1_2:{t}, cd2_1:{t}, "
        f"cd2_2:{t}, crval1:{t}, crval2:{t}, ctype1:string, ctype2:string>, "
        "tai_time double",
    )
    refs = build_cutout_refs(
        spectra, images, match_radius_deg=0.1, zooms=ZOOMS, cutout_size=cutout_size
    )
    got = {
        tuple(r)
        for r in refs.select(
            "spec_id", "image_id", "zoom", "x_min", "x_max", "y_min", "y_max"
        ).collect()
    }
    assert got == _numpy_cutout_refs(cases, wcs_type, cutout_size, ZOOMS)


def test_cutout_dereference_shape(refs, images):
    from hiss_cube_spark.operators.cutouts import dereference_cutouts

    cut = dereference_cutouts(refs.where(F.col("zoom") == 0), images.where(F.col("zoom") == 0))
    row = cut.select("cutout_data").first()
    arr = np.array(row[0])
    assert arr.shape == (CUTOUT, CUTOUT)


def test_ml_cube(spark, images, spectra, refs):
    from hiss_cube_spark.operators.ml_cube import assign_targets, build_ml_cube

    targeted = assign_targets(spectra)
    spec_cube, img_cube = build_ml_cube(targeted, refs, images)
    sc = spec_cube.where(F.col("zoom") == 0).collect()
    ic = img_cube.where(F.col("zoom") == 0).collect()
    # 9 distinct positions → 9 targets, all 5-band complete (every field has
    # all 5 bands in the fixture)
    assert len(sc) == 9
    assert len(ic) == 9 * 5
    # spectra arrays keep full resolution length
    assert all(len(r["flux"]) == SPEC_N for r in sc)
    # a target with two spectra must ivw-combine them: pick target of spec 0/1
    t0 = spectra.where(F.col("spec_id") == 0).select("healpix").first()[0]
    flux0 = np.array(
        spectra.where((F.col("spec_id") == 0) & (F.col("zoom") == 0)).select("flux_mean").first()[0]
    )
    sig0 = np.array(
        spectra.where((F.col("spec_id") == 0) & (F.col("zoom") == 0)).select("flux_sigma").first()[0]
    )
    flux1 = np.array(
        spectra.where((F.col("spec_id") == 1) & (F.col("zoom") == 0)).select("flux_mean").first()[0]
    )
    sig1 = np.array(
        spectra.where((F.col("spec_id") == 1) & (F.col("zoom") == 0)).select("flux_sigma").first()[0]
    )
    from hiss_cube_spark.operators.ivw import ivw_np

    exp_mean, exp_sig = ivw_np(
        np.stack([flux0, flux1]).astype(np.float64), np.stack([sig0, sig1]).astype(np.float64)
    )
    got = [r for r in sc if r["target_id"] == t0][0]
    np.testing.assert_allclose(
        np.array(got["flux"], dtype=np.float64),
        exp_mean,
        rtol=1e-5,
        equal_nan=True,
    )


def test_visualization_cube_row_count_law(spark, images, spectra, refs):
    from hiss_cube_spark.operators.viz_cube import build_visualization_cube

    viz = build_visualization_cube(spectra, refs, images)
    for z in (0, 3):
        n_samples = (
            spectra.where(F.col("zoom") == z)
            .select(F.size("wl").alias("n"))
            .agg(F.sum("n"))
            .first()[0]
        )
        n_cut = refs.where(F.col("zoom") == z).count()
        size = CUTOUT >> z
        expected = n_samples + n_cut * size * size
        got = viz.where(F.col("zoom") == z).count()
        assert got == expected, (z, got, expected)


def test_sfr_join(spark, spectra):
    from hiss_cube_spark.operators.sfr import spectra_with_sfr

    gal_info, gal_sfr = make_sfr_tables(spark)
    meta = spectra.where(F.col("zoom") == 0).select(
        F.col("plateid").alias("PLATEID"),
        F.col("mjd").alias("MJD"),
        F.col("fiberid").alias("FIBERID"),
        "spec_id",
    )
    merged = spectra_with_sfr(meta, gal_info, gal_sfr)
    assert merged.count() == N_SPECTRA
    # 7 match, 4 unmatched → 4 null MEDIANs (ref tests/test_sfr.py:57-58)
    assert merged.where(F.col("MEDIAN").isNull()).count() == 4


@pytest.fixture(scope="module")
def built(spark, images, spectra, tmp_path_factory):
    """(pipeline, warehouse) after one full ``create`` with both exports."""
    from hiss_cube_spark.plans.pipeline import CubePipeline

    wh = str(tmp_path_factory.mktemp("warehouse"))
    pipe = CubePipeline(spark, wh, match_radius_deg=0.01, cutout_size=CUTOUT)
    pipe.create(images, spectra, export="both", export_zoom=3)
    return pipe, wh


def test_pipeline_phases(spark, built):
    """End-to-end cardinality laws through the full ingest→link→gold chain,
    the fixture-scale analog of the reference's pinned galaxy_small counts
    (visualization cube 276,100 rows @ zoom 0 / 9,867 @ zoom 3, ML cube
    zoom-2 shapes (2,5,16,16)/(2,1155) — /root/reference/hisscube/tests/
    test_export.py:63,92,98-99). Every expected count is DERIVED from the
    fixture constants, so any regression in the chain's row accounting
    (dropped refs, duplicated pixels, zoom ladder off-by-one) fails here."""
    pipe, wh = built

    n_fields = 37
    n_bands = len(BANDS)
    # spectra 0/1 and 2/3 share a position → 9 distinct targets
    n_targets = N_SPECTRA - 2
    spec_samples = sum(SPEC_N >> z for z in range(ZOOMS))          # 248
    cutout_pixels = sum((CUTOUT >> z) ** 2 for z in range(ZOOMS))  # 341
    expected = {
        "images": n_fields * n_bands * ZOOMS,                      # 925
        "spectra": N_SPECTRA * ZOOMS,                              # 55
        # r=0.01° only matches a spectrum's own field (fields 0.08° apart)
        "cutout_refs": N_SPECTRA * n_bands * ZOOMS,                # 275
        "ml_cube_spectra": n_targets * ZOOMS,                      # 45
        "ml_cube_images": n_targets * ZOOMS * n_bands,             # 225
        "visualization_cube": N_SPECTRA * spec_samples
        + N_SPECTRA * n_bands * cutout_pixels,                     # 21,483
    }
    for t, want in expected.items():
        assert os.path.isdir(os.path.join(wh, t)), t
        n = spark.read.parquet(os.path.join(wh, t)).count()
        assert n == want, f"{t}: {n} != {want}"
        # A3/A7: counts observed on the write pass equal the table counts
        assert pipe.stats[t] == n, t

    viz = spark.read.parquet(os.path.join(wh, "visualization_cube"))
    per_zoom = {r["zoom"]: r["n"] for r in viz.groupBy("zoom").agg(F.count(F.lit(1)).alias("n")).collect()}
    for z in range(ZOOMS):
        want_z = N_SPECTRA * (SPEC_N >> z) + N_SPECTRA * n_bands * (CUTOUT >> z) ** 2
        assert per_zoom[z] == want_z, f"zoom {z}: {per_zoom[z]} != {want_z}"

    # ML-cube zoom-2 shape analog: flux arrays carry the zoom-2 ladder sizes
    ml_s = spark.read.parquet(os.path.join(wh, "ml_cube_spectra")).where(F.col("zoom") == 2)
    assert ml_s.count() == n_targets
    assert ml_s.select(F.size("flux").alias("s")).distinct().collect()[0]["s"] == SPEC_N >> 2
    ml_i = spark.read.parquet(os.path.join(wh, "ml_cube_images")).where(F.col("zoom") == 2)
    assert ml_i.count() == n_targets * n_bands
    assert ml_i.select(F.size("cutout_flux").alias("s")).distinct().collect()[0]["s"] == (CUTOUT >> 2) ** 2

    import json as _json

    assert _json.load(open(os.path.join(wh, "_stats.json"))) == pipe.stats
    # zoom partition pruning materialized on disk
    assert os.path.isdir(os.path.join(wh, "images", "zoom=0"))
    # exports written and structurally valid (read back by our own parsers)
    from hiss_cube_spark.sources.fits import read_fits_bytes_header

    assert "<VOTABLE" in open(os.path.join(wh, "visualization_zoom3.vot")).read(200)
    blob = open(os.path.join(wh, "visualization_zoom3.fits"), "rb").read()
    hdr, pos = read_fits_bytes_header(blob, 0)
    hdr2, _ = read_fits_bytes_header(blob, pos)
    assert hdr2["XTENSION"] == "BINTABLE" and hdr2["NAXIS2"] > 0


def test_bronze_files_hold_disjoint_healpix_ranges(built):
    """The bronze range write's layout: within each ``zoom=`` directory
    the files' healpix min/max intervals (parquet footer statistics) are
    pairwise disjoint, so spatial scans prune file by file, and AQE merged
    the toy corpus' near-empty ranges below the 64 the write starts from."""
    import pyarrow.parquet as pq

    _, wh = built
    for table in ("images", "spectra"):
        n_files = 0
        for zdir in sorted(glob.glob(os.path.join(wh, table, "zoom=*"))):
            spans = []
            for f in sorted(glob.glob(os.path.join(zdir, "*.parquet"))):
                meta = pq.ParquetFile(f).metadata
                col = meta.schema.to_arrow_schema().get_field_index("healpix")
                stats = [meta.row_group(g).column(col).statistics for g in range(meta.num_row_groups)]
                spans.append((min(st.min for st in stats), max(st.max for st in stats)))
            spans.sort()
            assert spans, zdir
            assert all(a[1] < b[0] for a, b in zip(spans, spans[1:])), (zdir, spans)
            n_files += len(spans)
        assert n_files < 64, (table, n_files)


def test_bronze_write_restores_session_confs(spark, tmp_path):
    """The range write sets its initial width for the write only: a value
    the session had set comes back, and a key it had not set is unset."""
    from hiss_cube_spark.plans.pipeline import CubePipeline

    init = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    shuffle = "spark.sql.shuffle.partitions"
    before = spark.conf.get(shuffle)
    df = spark.createDataFrame(
        [(z, h) for z in range(2) for h in range(20)], "zoom int, healpix long"
    )
    pipe = CubePipeline(spark, str(tmp_path))
    spark.conf.unset(init)
    pipe.write_bronze(df, "t")
    assert spark.conf.get(init, None) is None
    spark.conf.set(init, "77")
    try:
        pipe.write_bronze(df, "t")
        assert spark.conf.get(init) == "77"
    finally:
        spark.conf.unset(init)
    assert spark.conf.get(shuffle) == before
    assert pipe.read("t").count() == 40


def test_pipeline_read_sees_a_rewritten_table(spark, built, tmp_path_factory):
    """`CubePipeline.read` keeps one DataFrame per table and forgets it
    when the pipeline rewrites that table: a link re-run with a lower cap
    is what the next read returns. (Every fixture spectrum sits on its
    field centre, so a smaller match radius would match the same rows; a
    cap of 2 refs per spectrum changes the count.)"""
    import shutil

    from hiss_cube_spark.plans.pipeline import CubePipeline

    _, src = built
    wh = str(tmp_path_factory.mktemp("warehouse_relink"))
    for t in ("images", "spectra"):
        shutil.copytree(os.path.join(src, t), os.path.join(wh, t))
    pipe = CubePipeline(spark, wh, match_radius_deg=0.01, cutout_size=CUTOUT)
    pipe.phase_link()
    assert pipe.read("cutout_refs").count() == N_SPECTRA * len(BANDS) * ZOOMS
    assert pipe.read("cutout_refs") is pipe.read("cutout_refs")
    pipe.max_refs = 2
    pipe.phase_link()
    assert pipe.read("cutout_refs").count() == N_SPECTRA * 2 * ZOOMS
    assert pipe.stats["cutout_refs"] == N_SPECTRA * 2 * ZOOMS


def test_exports_roundtrip(spark, tmp_path_factory):
    from hiss_cube_spark.sources.exports import write_fits_table, write_votable
    from hiss_cube_spark.sources.fits import parse_fits_header, read_fits_bytes_header

    out = tmp_path_factory.mktemp("exports")
    df = spark.createDataFrame(
        [(1, 2.5, "a"), (2, 3.5, "b")], "id long, val double, name string"
    )
    vot = os.path.join(out, "t.vot")
    fits = os.path.join(out, "t.fits")
    write_votable(df, vot)
    assert "<VOTABLE" in open(vot).read()
    write_fits_table(df, fits)
    blob = open(fits, "rb").read()
    hdr, pos = read_fits_bytes_header(blob, 0)
    assert hdr["SIMPLE"] is True
    hdr2, _ = read_fits_bytes_header(blob, pos)
    assert hdr2["XTENSION"] == "BINTABLE"
    assert hdr2["NAXIS2"] == 2


def test_fits_source_scan(spark, tmp_path_factory):
    """Write a tiny FITS image by hand; scan_fits_headers + parse_fits_image
    must read it back (pure-python FITS path, no astropy)."""
    import numpy as np

    from hiss_cube_spark.sources.fits import parse_fits_image, scan_fits_headers

    d = tmp_path_factory.mktemp("fits")

    def card(k, v):
        if isinstance(v, bool):
            return f"{k:<8}= {'T' if v else 'F':>20}".ljust(80).encode()
        if isinstance(v, (int, float)):
            return f"{k:<8}= {v:>20}".ljust(80).encode()
        return f"{k:<8}= '{v}'".ljust(80).encode()

    arr = np.arange(12, dtype=">f4").reshape(3, 4)
    hdr = (
        card("SIMPLE", True)
        + card("BITPIX", -32)
        + card("NAXIS", 2)
        + card("NAXIS1", 4)
        + card("NAXIS2", 3)
        + card("RUN", 1234)
        + card("FILTER", "r")
        + "END".ljust(80).encode()
    )
    hdr += b" " * ((-len(hdr)) % 2880)
    data = arr.tobytes()
    data += b"\x00" * ((-len(data)) % 2880)
    p = os.path.join(d, "frame-r-001234.fits")
    with open(p, "wb") as f:
        f.write(hdr + data)

    got = scan_fits_headers(spark, str(d), "*.fits").collect()
    assert len(got) == 1
    h = json.loads(got[0]["header"])
    assert h["RUN"] == 1234 and h["FILTER"] == "r"

    h2, a2 = parse_fits_image(open(p, "rb").read())
    np.testing.assert_array_equal(a2, arr.astype(np.float32))


def test_ccd_config_lookup(spark, tmp_path_factory):
    from hiss_cube_spark.sources.config_tables import load_ccd_table, lookup_ccd_value

    d = tmp_path_factory.mktemp("cfg")
    tsv = os.path.join(d, "ccd_gain.tsv")
    with open(tsv, "w") as f:
        f.write("camcol\trun\tu\tg\tr\ti\tz\n")
        f.write("1\t<1100\t1.62\t3.32\t4.71\t5.165\t4.745\n")
        f.write("1\t>1100\t1.825\t3.32\t4.71\t5.165\t4.745\n")
        f.write("2\t>0\t1.595\t3.855\t4.6\t6.565\t5.155\n")
    ccd = load_ccd_table(spark, tsv)
    # invariant: exactly one row matches any (camcol, run, band)
    probes = spark.createDataFrame(
        [(1, 900, "u"), (1, 2000, "u"), (2, 5, "z")], "camcol int, run long, band string"
    )
    out = lookup_ccd_value(probes, ccd).select("run", "value").collect()
    vals = {r["run"]: r["value"] for r in out}
    assert len(out) == 3
    assert vals[900] == pytest.approx(1.62)
    assert vals[2000] == pytest.approx(1.825)
    assert vals[5] == pytest.approx(5.155)


def test_uncertainty_derivation():
    # ref tests/test_cube_utils.py:23-28 shape/positivity contract
    from hiss_cube_spark.sources.photometry_ingest import derive_image_uncertainty

    rng = np.random.default_rng(42)
    img = rng.uniform(100, 1000, (48, 64)).astype(np.float64)
    calib = rng.uniform(0.9, 1.1, 64)
    sky = rng.uniform(1, 5, (6, 8))
    flux, err = derive_image_uncertainty(img, calib, sky, gain=4.7, dark_variance=1.3)
    assert flux.shape == err.shape == (48, 64)
    assert np.all(err > 0)
    assert flux.dtype == np.float32 and err.dtype == np.float32


def test_crossmatch_healpix_equals_grid(spark, images, spectra):
    """The pluggable index families must produce identical match sets: the
    disc covers differ (grid bbox vs healpix sampled superset) but the exact
    distance post-filter makes both exact."""
    from hiss_cube_spark.functions.spatial import (
        grid_cell,
        grid_disc_cells,
        healpix_ang2pix_nest,
        healpix_disc_cover,
    )
    from hiss_cube_spark.operators.crossmatch import crossmatch

    p = spectra.where(F.col("zoom") == 0).select(
        "spec_id", F.col("plug_ra").alias("ra"), F.col("plug_dec").alias("dec")
    )
    t = images.where(F.col("zoom") == 0).select("image_id", "ra", "dec")
    radius = 0.05

    grid = crossmatch(p, t, radius_deg=radius)
    hp = crossmatch(
        p,
        t,
        radius_deg=radius,
        disc_cells_fn=lambda ra, dec: healpix_disc_cover(ra, dec, radius, order=10),
        cell_fn=lambda ra, dec: healpix_ang2pix_nest(ra, dec, order=10),
    )
    g = {(r["p_spec_id"], r["t_image_id"]) for r in grid.collect()}
    h = {(r["p_spec_id"], r["t_image_id"]) for r in hp.collect()}
    assert g == h and len(g) > 0


def test_votable_distributed_roundtrip(spark, tmp_path_factory):
    """S10 scale path: per-partition standalone VOTable docs, union of parsed
    rows equals the input; each doc is well-formed XML with the full schema."""
    import glob
    import xml.etree.ElementTree as ET

    from hiss_cube_spark.sources.exports import write_votable_distributed

    out = str(tmp_path_factory.mktemp("vot_dist"))
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") * 1.5).alias("val"),
        F.concat(F.lit("row_"), F.col("id")).alias("name"),
    )
    write_votable_distributed(df, out, partitions=4)
    files = sorted(glob.glob(os.path.join(out, "part-*.vot")))
    assert 1 <= len(files) <= 4 and not glob.glob(os.path.join(out, ".part-*"))

    ns = {"v": "http://www.ivoa.net/xml/VOTable/v1.3"}
    got = []
    for path in files:
        root = ET.parse(path).getroot()
        fields = [f.get("name") for f in root.findall(".//v:FIELD", ns)]
        assert fields == ["id", "val", "name"]
        types = [f.get("datatype") for f in root.findall(".//v:FIELD", ns)]
        assert types == ["long", "double", "char"]
        for tr in root.findall(".//v:TR", ns):
            tds = [td.text for td in tr.findall("v:TD", ns)]
            got.append((int(tds[0]), float(tds[1]), tds[2]))
    exp = [(i, i * 1.5, f"row_{i}") for i in range(100)]
    assert sorted(got) == exp


def test_votable_binary_roundtrip(spark, tmp_path_factory):
    """BINARY-serialization VOTable (format parity with the reference's
    astropy binary tabledata, metadata_strategy_cube_visualization.py:
    97-100): every datatype and null representation survives the base64
    stream bit-exactly, and the reader also re-parses the TABLEDATA
    writer's output to the same rows."""
    import math
    import os

    from hiss_cube_spark.sources.exports import (
        read_votable,
        write_votable,
        write_votable_binary,
    )

    df = spark.createDataFrame(
        [
            (1, 2.5, "alpha", True, 0.125),
            (2, float("nan"), "uniçode", False, -1.0),
            (3, 7.25, "", None, None),
        ],
        "id long, x double, s string, flag boolean, y double",
    )
    d = str(tmp_path_factory.mktemp("vot"))
    binp, txtp = os.path.join(d, "b.vot"), os.path.join(d, "t.vot")
    write_votable_binary(df, binp)
    write_votable(df, txtp)

    names, rows = read_votable(binp)
    assert names == ["id", "x", "s", "flag", "y"]
    got = {r[0]: r for r in rows}
    assert got[1] == (1, 2.5, "alpha", True, 0.125)
    assert got[2][1] is None and got[2][2] == "uniçode" and got[2][3] is False
    assert got[3][3] is None and got[3][4] is None and got[3][1] == 7.25
    # binary is materially smaller than the XML text for numeric payloads
    assert os.path.getsize(binp) < os.path.getsize(txtp)
    # the reader handles the TABLEDATA flavor too (float-representable cells)
    names2, rows2 = read_votable(txtp)
    assert names2 == names and len(rows2) == 3
    assert {r[0] for r in rows2} == {1, 2, 3}

    # a NULLABLE long column keeps exact int64 values above 2^53 (a pandas
    # roundtrip would degrade the column to float64 and round them)
    big = 2**62 + 12345
    df2 = spark.createDataFrame([(1, big), (2, None)], "id long, v long")
    p2 = os.path.join(d, "big.vot")
    write_votable_binary(df2, p2)
    _, rows = read_votable(p2)
    got = {r[0]: r[1] for r in rows}
    assert got[1] == big and got[2] is None


def test_tiled_pipeline_matches_untiled(spark, tmp_path_factory):
    """tiled=True (chunked-raster dereference — the reference's HDF5
    region reads, io_strategy.py:80-91) produces bit-identical gold
    tables; tile=7 deliberately misaligns every cutout across tiles."""
    import os

    from astro_fixtures import make_images, make_spectra
    from hiss_cube_spark.plans.pipeline import CubePipeline

    wa = str(tmp_path_factory.mktemp("wh_plain"))
    wb = str(tmp_path_factory.mktemp("wh_tiled"))
    CubePipeline(spark, wa, match_radius_deg=0.01, cutout_size=16).create(
        make_images(spark), make_spectra(spark)
    )
    pt = CubePipeline(
        spark, wb, match_radius_deg=0.01, cutout_size=16, tiled=True, tile=7
    )
    pt.create(make_images(spark), make_spectra(spark))
    for t in ("ml_cube_spectra", "ml_cube_images", "visualization_cube"):
        a = spark.read.parquet(os.path.join(wa, t))
        b = spark.read.parquet(os.path.join(wb, t))
        assert a.exceptAll(b).count() == 0, t
        assert b.exceptAll(a).count() == 0, t
    assert pt.stats["image_tiles"] > 0


def test_crossmatch_healpix_polar_correct(spark):
    """dec=±89° cross-match: the HEALPix family (now the PIPELINE default,
    plans/pipeline.py) returns exactly the brute-force match set at the
    poles, where the equiangular grid's ra-bounding-box cover understates
    the disc (documented caveat, functions/spatial.py:71-74). Also pins
    the equatorial agreement of both families."""
    import itertools

    from hiss_cube_spark.functions.spatial import sphere_dist_deg
    from hiss_cube_spark.operators.crossmatch import crossmatch

    radius = 0.5
    # probes/targets sprinkled around both polar caps + equator control
    probes = [(i, float((37 * i) % 360), 89.2 + (i % 5) * 0.18) for i in range(12)]
    probes += [(100 + i, float((53 * i) % 360), -89.2 - (i % 5) * 0.15) for i in range(12)]
    probes += [(200 + i, float(10 * i), 0.3) for i in range(6)]
    targets = [(1000 + i, float((37 * i) % 360) + 0.3, 89.25 + (i % 5) * 0.18) for i in range(12)]
    targets += [(1100 + i, float((53 * i) % 360) - 0.4, -89.22 - (i % 5) * 0.15) for i in range(12)]
    targets += [(1200 + i, float(10 * i) + 0.2, 0.1) for i in range(6)]
    p = spark.createDataFrame(probes, "pid long, ra double, dec double")
    t = spark.createDataFrame(targets, "tid long, ra double, dec double")

    # brute-force truth set via the same exact distance predicate
    brute = {
        (r["pid"], r["tid"])
        for r in p.crossJoin(t.select(F.col("tid"), F.col("ra").alias("tra"),
                                      F.col("dec").alias("tdec")))
        .where(sphere_dist_deg(F.col("ra"), F.col("dec"),
                               F.col("tra"), F.col("tdec")) <= radius)
        .collect()
    }
    assert brute, "fixture produced no polar matches — test is vacuous"

    got = {
        (r["p_pid"], r["t_tid"])
        for r in crossmatch(p, t, radius_deg=radius, index="healpix").collect()
    }
    assert got == brute


def test_ivw_arrays_null_member_alignment(spark):
    """ADVICE r7: a row with a null in only ONE of flux/sigma must not
    desynchronize the pairing (two independent collect_lists drop nulls
    independently); all-null groups must yield null arrays, not crash."""
    from hiss_cube_spark.operators.ivw import ivw_aggregate_arrays, ivw_np

    rows = [
        # group A: one good pair, one flux-null pair (must be skipped as a
        # UNIT — the old two-collect_list form would pair sigma of row 2
        # with flux of row 3)
        ("A", [1.0, 2.0], [0.5, 0.5]),
        ("A", None, [9.0, 9.0]),
        ("A", [3.0, 4.0], [1.0, 1.0]),
        # group B: every pair has a null member
        ("B", None, [1.0, 1.0]),
        ("B", [1.0, 1.0], None),
    ]
    df = spark.createDataFrame(
        rows, "g string, flux array<float>, sigma array<float>"
    )
    out = {
        r["g"]: r
        for r in ivw_aggregate_arrays(df, ["g"]).collect()
    }
    exp_mean, exp_sig = ivw_np(
        np.array([[1.0, 2.0], [3.0, 4.0]]), np.array([[0.5, 0.5], [1.0, 1.0]])
    )
    np.testing.assert_allclose(
        np.array(out["A"]["flux_mean"], dtype=np.float64), exp_mean, rtol=1e-6
    )
    np.testing.assert_allclose(
        np.array(out["A"]["flux_sigma"], dtype=np.float64), exp_sig, rtol=1e-6
    )
    assert out["B"]["flux_mean"] is None
    assert out["B"]["flux_sigma"] is None
