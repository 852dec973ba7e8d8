"""Single-object + bulk FITS ingest and the CLI create surface."""

from __future__ import annotations

import os

import numpy as np
import pytest


def _write_fits(path: str, w: int = 64, h: int = 48, band: str = "r",
                ra: float = 30.0, dec: float = 10.0) -> np.ndarray:
    def card(k, v):
        if isinstance(v, bool):
            return f"{k:<8}= {'T' if v else 'F':>20}".ljust(80).encode()
        if isinstance(v, (int, float)):
            return f"{k:<8}= {v:>20}".ljust(80).encode()
        return f"{k:<8}= '{v}'".ljust(80).encode()

    rng = np.random.default_rng(abs(hash(path)) % 2**32)
    arr = rng.uniform(0.5, 2.0, (h, w)).astype(">f4")
    hdr = b"".join(
        [
            card("SIMPLE", True), card("BITPIX", -32), card("NAXIS", 2),
            card("NAXIS1", w), card("NAXIS2", h), card("RUN", 1234),
            card("CAMCOL", 2), card("FILTER", band), card("TAI", 55000.5),
            card("CRPIX1", w / 2), card("CRPIX2", h / 2),
            card("CD1_1", 4e-4), card("CD1_2", 0.0),
            card("CD2_1", 0.0), card("CD2_2", 4e-4),
            card("CRVAL1", ra), card("CRVAL2", dec),
            card("CTYPE1", "RA---TAN"), card("CTYPE2", "DEC--TAN"),
            "END".ljust(80).encode(),
        ]
    )
    hdr += b" " * ((-len(hdr)) % 2880)
    data = arr.tobytes()
    data += b"\x00" * ((-len(data)) % 2880)
    with open(path, "wb") as f:
        f.write(hdr + data)
    return arr.astype(np.float32)


def test_single_object_ingest(tmp_path_factory):
    from hiss_cube_spark.sources.ingest import image_rows_from_fits

    d = tmp_path_factory.mktemp("one")
    p = os.path.join(d, "frame-r-001234.fits")
    arr = _write_fits(p)
    rows = image_rows_from_fits(open(p, "rb").read(), p)
    assert len(rows) == 5  # one row per zoom
    assert [r["naxis1"] for r in rows] == [64, 32, 16, 8, 4]
    assert rows[0]["band"] == "r" and rows[0]["wl"] == 6166
    np.testing.assert_array_equal(np.array(rows[0]["data"], dtype=np.float32), arr)
    # zoomed WCS follows crpix/2^z, cd*2^z
    assert rows[2]["wcs"]["crpix1"] == pytest.approx(rows[0]["wcs"]["crpix1"] / 4)
    assert rows[2]["wcs"]["cd1_1"] == pytest.approx(rows[0]["wcs"]["cd1_1"] * 4)


def test_bulk_ingest_and_cli(spark, tmp_path_factory):
    from hiss_cube_spark.sources.ingest import ingest_images

    src = str(tmp_path_factory.mktemp("frames"))
    for i, band in enumerate(["u", "g", "r"]):
        _write_fits(os.path.join(src, f"frame-{band}-{i:06d}.fits"), band=band)
    open(os.path.join(src, "junk.fits"), "wb").write(b"garbage")

    df = ingest_images(spark, src)
    rows = df.count()
    assert rows == 3 * 5  # 3 good files × 5 zooms; corrupt file skipped
    assert df.select("image_id").distinct().count() == 3

    # CLI create surface
    from hiss_cube_spark.__main__ import main

    wh = str(tmp_path_factory.mktemp("wh"))
    rc = main([src, wh, "create"])
    assert rc == 0
    assert os.path.isdir(os.path.join(wh, "images", "zoom=0"))


def test_cli_keeps_caller_session_conf(spark, tmp_path_factory):
    """Run in-process under the caller's session, the CLI uses that session
    as configured: its shuffle width and time zone survive a create. Both
    are set unlike what get_spark would give ($SPARK_GRAFT_CPUS, UTC)."""
    from hiss_cube_spark.__main__ import main

    src = str(tmp_path_factory.mktemp("frames_conf"))
    for i, band in enumerate(["u", "g", "r"]):
        _write_fits(os.path.join(src, f"frame-{band}-{i:06d}.fits"), band=band)
    wh = str(tmp_path_factory.mktemp("wh_conf"))

    keys = ("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")
    saved = {k: spark.conf.get(k) for k in keys}
    width = "3" if os.environ.get("SPARK_GRAFT_CPUS") != "3" else "5"
    wanted = {keys[0]: width, keys[1]: "America/Chicago"}
    try:
        for k, v in wanted.items():
            spark.conf.set(k, v)
        assert main([src, wh, "create"]) == 0
        assert {k: spark.conf.get(k) for k in keys} == wanted
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _write_spec_fits(path: str, n: int = 200, plate: int = 3000,
                     ra: float = 30.0, dec: float = 10.0) -> None:
    def card(k, v):
        if isinstance(v, bool):
            return f"{k:<8}= {'T' if v else 'F':>20}".ljust(80).encode()
        if isinstance(v, (int, float)):
            return f"{k:<8}= {v:>20}".ljust(80).encode()
        return f"{k:<8}= '{v}'".ljust(80).encode()

    prim = b"".join(
        [card("SIMPLE", True), card("BITPIX", 8), card("NAXIS", 0),
         card("EXTEND", True), card("PLUG_RA", ra), card("PLUG_DEC", dec),
         card("TAI", 55123.5), card("MJD", 56000), card("PLATEID", plate),
         card("FIBERID", 7), "END".ljust(80).encode()]
    )
    prim += b" " * ((-len(prim)) % 2880)
    rec = np.zeros(n, dtype=[("loglam", ">f4"), ("flux", ">f4"), ("ivar", ">f4")])
    rng = np.random.default_rng(plate)
    rec["loglam"] = np.linspace(3.585, 3.95, n)  # 10^x spans the rebin grid
    rec["flux"] = rng.uniform(0.5, 5.0, n)
    rec["ivar"] = rng.uniform(1.0, 100.0, n)
    cards = [card("XTENSION", "BINTABLE"), card("BITPIX", 8), card("NAXIS", 2),
             card("NAXIS1", rec.dtype.itemsize), card("NAXIS2", n),
             card("PCOUNT", 0), card("GCOUNT", 1), card("TFIELDS", 3)]
    for i, nm in enumerate(["loglam", "flux", "ivar"], 1):
        cards += [card(f"TTYPE{i}", nm), card(f"TFORM{i}", "E")]
    hdr = b"".join(cards) + "END".ljust(80).encode()
    hdr += b" " * ((-len(hdr)) % 2880)
    data = rec.tobytes()
    data += b"\x00" * ((-len(data)) % 2880)
    with open(path, "wb") as f:
        f.write(prim + hdr + data)


def test_spectrum_ingest(spark, tmp_path_factory):
    from hiss_cube_spark.sources.ingest import ingest_spectra, spectrum_rows_from_fits

    d = tmp_path_factory.mktemp("specs")
    for p in (3000, 3001):
        _write_spec_fits(os.path.join(d, f"spec-{p}.fits"), plate=p)

    rows = spectrum_rows_from_fits(
        open(os.path.join(d, "spec-3000.fits"), "rb").read(), rebin_samples=128
    )
    assert len(rows) == 5
    assert [len(r["wl"]) for r in rows] == [128, 64, 32, 16, 8]
    assert rows[0]["plateid"] == 3000 and rows[0]["fiberid"] == 7
    f0 = np.array(rows[0]["flux_mean"], dtype=np.float32)
    assert np.isfinite(f0).any()          # grid overlaps the data
    assert np.isnan(f0).any()             # NaN fill outside coverage

    df = ingest_spectra(spark, str(d), rebin_samples=128)
    assert df.count() == 2 * 5
    assert df.select("spec_id").distinct().count() == 2


def test_fits_python_datasource_matches_scan(spark, tmp_path_factory):
    """spark.read.format('fits'): file-per-partition Python data source
    agrees with the binaryFile scan path (same parser) and tolerates a
    corrupt file via the _error header contract."""
    import json

    from hiss_cube_spark.sources.fits import scan_fits_headers
    from hiss_cube_spark.sources.fits_datasource import register_fits_source

    src = str(tmp_path_factory.mktemp("ds_src"))
    for band, i in (("r", 1), ("g", 2), ("i", 3)):
        _write_fits(os.path.join(src, f"frame-{band}-{i:06d}.fits"), band=band)
    open(os.path.join(src, "junk.fits"), "wb").write(b"garbage")

    register_fits_source(spark)
    ds = spark.read.format("fits").load(src).collect()
    assert len(ds) == 4
    via_scan = {
        os.path.basename(r["path"]): (r["n_bytes"], r["header"])
        for r in scan_fits_headers(spark, src).collect()
    }
    via_ds = {
        os.path.basename(r["path"]): (r["n_bytes"], r["header"])
        for r in ds
    }
    assert via_ds == via_scan
    assert "_error" in json.loads(via_ds["junk.fits"][1])

    # image mode adds parsed pixel payloads
    img = (
        spark.read.format("fits")
        .option("mode", "image")
        .load(src)
        .where("naxis1 IS NOT NULL")
        .collect()
    )
    assert len(img) == 3
    assert all(r["naxis1"] == 64 and len(r["data"]) == 64 * 48 for r in img)


def test_compressed_fits_parse_and_ingest(spark, tmp_path_factory):
    """bz2/gzip FITS (SDSS distributes frame-*.fits.bz2; ref fixtures are
    bz2 — hisscube/tests/test_cube_utils.py:24) parse bit-identically to
    the plain file and ride the default glob through the bulk scan."""
    import bz2
    import gzip
    import json

    from hiss_cube_spark.sources.fits import parse_fits_image, scan_fits_headers
    from hiss_cube_spark.sources.ingest import ingest_images

    src = str(tmp_path_factory.mktemp("zframes"))
    plain = os.path.join(src, "frame-r-000001.fits")
    _write_fits(plain)
    raw = open(plain, "rb").read()
    open(os.path.join(src, "frame-r-000002.fits.bz2"), "wb").write(bz2.compress(raw))
    open(os.path.join(src, "frame-r-000003.fits.gz"), "wb").write(gzip.compress(raw))

    # magic-byte parse parity: header and pixels identical to the plain file
    h0, a0 = parse_fits_image(raw)
    for blob in (bz2.compress(raw), gzip.compress(raw)):
        h, a = parse_fits_image(blob)
        assert h == h0
        np.testing.assert_array_equal(a, a0)

    # default glob (*.fits*) picks up all three; pixels identical per zoom
    df = ingest_images(spark, src)
    assert df.count() == 3 * 5
    assert df.select("image_id").distinct().count() == 3
    z0 = df.where("zoom = 0").select("path", "data").collect()
    ref = {os.path.basename(r["path"]): r["data"] for r in z0}
    assert ref["frame-r-000002.fits.bz2"] == ref["frame-r-000001.fits"]
    assert ref["frame-r-000003.fits.gz"] == ref["frame-r-000001.fits"]

    # header-cache scan decompresses too (no _error rows)
    hdrs = scan_fits_headers(spark, src).collect()
    assert len(hdrs) == 3
    assert all("_error" not in json.loads(r["header"]) for r in hdrs)


def test_rice_tile_compressed_fits_parse_and_ingest(spark, tmp_path_factory):
    """fpack-style `.fits.fz` (ZIMAGE bintable, RICE_1 tiles) parses
    bit-identically to the plain int16 file in every path — direct image
    parse, logical header reconstruction, bulk ingest via the default
    glob, and the header-cache scan. Reference parity: fitsio reads
    compressed HDUs transparently (hisscube/utils/photometry.py:18,31)."""
    import json

    from hiss_cube_spark.sources.fits import (
        parse_fits_header,
        parse_fits_image,
        scan_fits_headers,
        write_rice_fits,
    )
    from hiss_cube_spark.sources.ingest import ingest_images

    src = str(tmp_path_factory.mktemp("fzframes"))
    extra = {
        "RUN": 1234, "CAMCOL": 2, "FILTER": "r", "TAI": 55000.5,
        "CRPIX1": 32.0, "CRPIX2": 24.0, "CD1_1": 4e-4, "CD1_2": 0.0,
        "CD2_1": 0.0, "CD2_2": 4e-4, "CRVAL1": 30.0, "CRVAL2": 10.0,
        "CTYPE1": "RA---TAN", "CTYPE2": "DEC--TAN",
    }
    rng = np.random.default_rng(5150)
    img = (900 + np.cumsum(rng.integers(-4, 5, (48, 64)), axis=1)).astype(np.int16)

    # plain int16 file with the same cards
    def card(k, v):
        if isinstance(v, bool):
            return f"{k:<8}= {'T' if v else 'F':>20}".ljust(80).encode()
        if isinstance(v, (int, float)):
            return f"{k:<8}= {v:>20}".ljust(80).encode()
        return f"{k:<8}= '{v}'".ljust(80).encode()

    cards = [card("SIMPLE", True), card("BITPIX", 16), card("NAXIS", 2),
             card("NAXIS1", 64), card("NAXIS2", 48)]
    cards += [card(k, v) for k, v in extra.items()]
    cards.append("END".ljust(80).encode())
    hdr = b"".join(cards)
    hdr += b" " * ((-len(hdr)) % 2880)
    body = img.astype(">i2").tobytes()
    body += b"\x00" * ((-len(body)) % 2880)
    plain = os.path.join(src, "frame-r-000011.fits")
    open(plain, "wb").write(hdr + body)

    fz = write_rice_fits(img, tile_rows=1, header_extra=extra)
    open(os.path.join(src, "frame-r-000012.fits.fz"), "wb").write(fz)

    # direct parse parity: identical pixels, logical header carries the cards
    h0, a0 = parse_fits_image(open(plain, "rb").read())
    h1, a1 = parse_fits_image(fz)
    np.testing.assert_array_equal(a1, a0)
    for k in extra:
        assert h1[k] == h0[k], k
    assert h1["BITPIX"] == 16 and h1["NAXIS1"] == 64 and h1["NAXIS2"] == 48
    hh = parse_fits_header(fz)
    assert hh["NAXIS"] == 2 and hh["CRVAL1"] == 30.0

    # every other convention codec decodes through the same path
    for cmp in ("GZIP_1", "GZIP_2", "HCOMPRESS_1", "PLIO_1", "NOCOMPRESS"):
        img_c = np.abs(img) if cmp == "PLIO_1" else img  # PLIO: masks >= 0
        gz = write_rice_fits(img_c, tile_rows=8, header_extra=extra, cmptype=cmp)
        _, a2 = parse_fits_image(gz)
        np.testing.assert_array_equal(a2, np.abs(a0) if cmp == "PLIO_1" else a0)

    # bulk ingest: the default *.fits* glob picks up the .fz file and the
    # zoom-0 pixel payloads are identical to the plain file's
    df = ingest_images(spark, src)
    assert df.select("image_id").distinct().count() == 2
    z0 = df.where("zoom = 0").select("path", "data").collect()
    ref = {os.path.basename(r["path"]): r["data"] for r in z0}
    assert ref["frame-r-000012.fits.fz"] == ref["frame-r-000011.fits"]

    # header-cache scan reconstructs the logical header (no _error rows)
    hdrs = {os.path.basename(r["path"]): json.loads(r["header"])
            for r in scan_fits_headers(spark, src).collect()}
    assert len(hdrs) == 2
    assert hdrs["frame-r-000012.fits.fz"]["NAXIS1"] == 64
    assert hdrs["frame-r-000012.fits.fz"]["CRVAL2"] == 10.0


def test_rice_codec_roundtrip_and_stream_shape():
    """RICE_1 codec contract: exact roundtrip for u1/i2/i4 across signal
    shapes (constant, smooth ramp, noise, full-range alternation), the
    all-zero-diff block emits the fs=0 escape (near-zero bytes), and
    noise stays ~incompressible — the block-adaptive behavior the FITS
    tiled convention specifies."""
    from hiss_cube_spark.sources.rice import rice_decode, rice_encode

    rng = np.random.default_rng(3)
    for bytepix, dt in [(1, np.uint8), (2, np.int16), (4, np.int32)]:
        lo = 0 if dt is np.uint8 else -(2 ** (8 * bytepix - 1))
        hi = 255 if dt is np.uint8 else 2 ** (8 * bytepix - 1) - 1
        cases = {
            "const": np.full(500, 7),
            "smooth": np.cumsum(rng.integers(-3, 4, 500)),
            "noise": rng.integers(lo, hi, 500),
            "extreme": np.array([lo, hi] * 250),
        }
        for name, a in cases.items():
            a = a.astype(dt)
            enc = rice_encode(a, 32, bytepix)
            dec = rice_decode(enc, len(a), 32, bytepix)
            got = (
                (dec & ((1 << (8 * bytepix)) - 1))
                .astype(f"u{bytepix}")
                .view(dt)
            )
            np.testing.assert_array_equal(got, a, err_msg=f"{bytepix}/{name}")
        assert len(rice_encode(cases["const"].astype(dt), 32, bytepix)) <= bytepix + 500 // 32 + 8
        assert len(rice_encode(cases["noise"].astype(dt), 32, bytepix)) >= 500 * bytepix


# --------------------------------------------------------------------------
# CLI surface parity with the reference (hisscube.py:24-62): the two e2e
# recipes of /root/reference/hisscube/tests/test_end_to_end.py:52-85 —
# pattern-driven and CSV-list-driven — plus --sfr, --truncate and the
# update granularity flags.
# --------------------------------------------------------------------------


def _galaxy_corpus(tmp_path_factory) -> str:
    """SDSS-layout corpus: images/<rerun>/<run>/<camcol>/frame-*.fits,
    spectra/<plate>/spec-*.fits — two fields, two plates."""
    root = str(tmp_path_factory.mktemp("cli_corpus"))
    for field in (129, 130):
        d = os.path.join(root, "images", "301", "1234", "2")
        os.makedirs(d, exist_ok=True)
        for band in ["u", "g", "r", "i", "z"]:
            _write_fits(
                os.path.join(d, f"frame-{band}-001234-2-{field:04d}.fits"),
                band=band, ra=30.0 + (field - 129), dec=10.0,
            )
    for plate in (3000, 3001):
        d = os.path.join(root, "spectra", f"{plate:04d}")
        os.makedirs(d, exist_ok=True)
        _write_spec_fits(
            os.path.join(d, f"spec-{plate}-56000-0007.fits"), plate=plate,
            ra=30.0, dec=10.0,
        )
    return root


_CLI_COMMON = ["--rebin-samples", "128", "--match-radius-deg", "0.01",
               "--cutout-size", "16"]

_TABLES = ["fits_headers", "images", "spectra", "cutout_refs",
           "ml_cube_images", "ml_cube_spectra", "visualization_cube"]


def test_cli_create_matches_library_path(spark, tmp_path_factory):
    """Recipe 1 (pattern-driven create): one CLI command builds the whole
    warehouse; gold tables match a library-path CubePipeline run on the
    same corpus row for row."""
    import json

    from hiss_cube_spark.__main__ import main
    from hiss_cube_spark.plans.pipeline import CubePipeline
    from hiss_cube_spark.sources.ingest import ingest_images, ingest_spectra

    root = _galaxy_corpus(tmp_path_factory)
    wh = str(tmp_path_factory.mktemp("cli_wh"))
    rc = main(_CLI_COMMON + ["--image-pattern", "frame-*-001234-*.fits",
                             root, wh, "create"])
    assert rc == 0
    for t in _TABLES:
        assert os.path.isdir(os.path.join(wh, t)), t
    stats = json.load(open(os.path.join(wh, "_stats.json")))
    assert stats["images"] == 10 * 5 and stats["spectra"] == 2 * 5

    # library path over the same corpus
    wh2 = str(tmp_path_factory.mktemp("lib_wh"))
    pipe = CubePipeline(spark, wh2, match_radius_deg=0.01, cutout_size=16)
    pipe.create(
        ingest_images(spark, os.path.join(root, "images"),
                      "frame-*-001234-*.fits"),
        ingest_spectra(spark, os.path.join(root, "spectra"),
                       rebin_samples=128),
    )
    for t in _TABLES[1:]:
        a = spark.read.parquet(os.path.join(wh, t))
        b = spark.read.parquet(os.path.join(wh2, t))
        assert a.count() == b.count(), t
        assert sorted(a.columns) == sorted(b.columns), t


def test_cli_update_csv_lists_and_granularity(spark, tmp_path_factory):
    """Recipe 2 (CSV-list-driven): --image-list/--spectra-list restrict the
    bronze re-ingest to exactly the listed observations; granularity flags
    re-run single builders against the existing warehouse."""
    from hiss_cube_spark.__main__ import main

    root = _galaxy_corpus(tmp_path_factory)
    wh = str(tmp_path_factory.mktemp("cli_wh_csv"))
    img_csv = os.path.join(root, "imgs.csv")
    spec_csv = os.path.join(root, "specs.csv")
    open(img_csv, "w").write("run,camcol,field\n1234,2,129\n")
    open(spec_csv, "w").write("plate\n3000\n")

    assert main(_CLI_COMMON + [root, wh, "create"]) == 0
    # whole corpus first: 2 fields x 5 bands, 2 plates
    assert (spark.read.parquet(os.path.join(wh, "images"))
            .select("path").distinct().count()) == 10

    rc = main(_CLI_COMMON + ["--image-list", img_csv,
                             "--spectra-list", spec_csv,
                             root, wh, "update", "--data"])
    assert rc == 0
    imgs = spark.read.parquet(os.path.join(wh, "images"))
    assert imgs.select("path").distinct().count() == 5  # field 129 only
    assert imgs.where(~imgs.path.contains("0129.fits")).count() == 0
    specs = spark.read.parquet(os.path.join(wh, "spectra"))
    assert specs.select("path").distinct().count() == 1  # plate 3000 only

    # granularity: rebuild the header cache + link only (bronze untouched)
    before = imgs.count()
    rc = main(_CLI_COMMON + [root, wh, "update",
                             "--fits-metadata-cache", "--link"])
    assert rc == 0
    assert spark.read.parquet(os.path.join(wh, "images")).count() == before
    assert os.path.isdir(os.path.join(wh, "fits_headers"))
    assert os.path.isdir(os.path.join(wh, "cutout_refs"))

    # --truncate wipes the warehouse before the selected builders run
    rc = main(_CLI_COMMON + ["--truncate", root, wh, "update",
                             "--data-image"])
    assert rc == 0
    assert os.path.isdir(os.path.join(wh, "images"))
    assert not os.path.isdir(os.path.join(wh, "spectra"))


def test_cli_sfr_and_fits_catalog_reader(spark, tmp_path_factory):
    """--sfr --gal-info --gal-sfr: FITS catalogs → positional concat →
    left join on (PLATEID, MJD, FIBERID); unmatched spectra keep NULL SFR
    (ref processors/sfr.py:18-48, tests/test_sfr.py:57)."""
    from pyspark.sql import functions as F

    from hiss_cube_spark.__main__ import main
    from hiss_cube_spark.sources.exports import write_fits_table
    from hiss_cube_spark.sources.fits import read_fits_table_df

    root = _galaxy_corpus(tmp_path_factory)
    wh = str(tmp_path_factory.mktemp("cli_wh_sfr"))
    gal_info = os.path.join(root, "gal_info.fits")
    gal_sfr = os.path.join(root, "gal_sfr.fits")
    write_fits_table(
        spark.createDataFrame(
            [(3000, 56000, 7, 30.0), (8000, 50000, 99, 1.0)],
            "PLATEID int, MJD int, FIBERID int, RA double",
        ),
        gal_info,
    )
    write_fits_table(
        spark.createDataFrame([(1.5, 1.6), (2.5, 2.6)],
                              "MEDIAN double, AVG double"),
        gal_sfr,
    )

    # the catalog reader: schema from header walk, executor-side parse,
    # positional row_id
    cat = read_fits_table_df(spark, gal_info)
    assert cat.schema.simpleString() == (
        "struct<PLATEID:int,MJD:int,FIBERID:int,RA:double,row_id:bigint>"
    )
    assert [r["PLATEID"] for r in cat.orderBy("row_id").collect()] == [3000, 8000]

    rc = main(_CLI_COMMON + ["--sfr", "--gal-info", gal_info,
                             "--gal-sfr", gal_sfr, root, wh, "create"])
    assert rc == 0
    sfr = spark.read.parquet(os.path.join(wh, "spectra_sfr"))
    assert sfr.count() == 2
    matched = {r["PLATEID"]: r["MEDIAN"] for r in sfr.collect()}
    assert matched[3000] == 1.5 and matched[3001] is None

    # reference contract: --sfr without catalog paths is a parser error
    with pytest.raises(SystemExit):
        main(_CLI_COMMON + ["--sfr", root, wh, "create"])


def test_ingest_one_duplicate_contract(spark, tmp_path_factory):
    """Single-object ingest (ref SingleImageBuilder/SingleSpectrumBuilder,
    builders.py:36-123): one FITS → all-zoom rows; duplicate insert raises
    (ref duplicate-spatial-index AssertionError, test_serial_builders.py:
    108-116); overwrite_one is idempotent."""
    from hiss_cube_spark.sources.ingest import ingest_one, overwrite_one

    d = str(tmp_path_factory.mktemp("one_src"))
    wh = str(tmp_path_factory.mktemp("one_wh"))
    img = os.path.join(d, "frame-r-000042.fits")
    spec = os.path.join(d, "spec-3000-56000-0007.fits")
    _write_fits(img)
    _write_spec_fits(spec, plate=3000)

    assert ingest_one(spark, img, wh) == "images"  # kind sniffed: image
    assert ingest_one(spark, spec, wh, rebin_samples=128) == "spectra"
    imgs = spark.read.parquet(os.path.join(wh, "images"))
    assert imgs.count() == 5 and imgs.select("zoom").distinct().count() == 5
    assert spark.read.parquet(os.path.join(wh, "spectra")).count() == 5

    with pytest.raises(ValueError, match="already ingested"):
        ingest_one(spark, img, wh)

    # idempotent variant: replaces, never duplicates
    assert overwrite_one(spark, img, wh) == "images"
    imgs = spark.read.parquet(os.path.join(wh, "images"))
    assert imgs.count() == 5
    assert imgs.select("image_id").distinct().count() == 1

    # second object appends alongside the first
    img2 = os.path.join(d, "frame-g-000043.fits")
    _write_fits(img2, band="g")
    assert ingest_one(spark, img2, wh) == "images"
    assert spark.read.parquet(os.path.join(wh, "images")).count() == 10


def test_cli_config_file_reproduces_flag_run(spark, tmp_path_factory):
    """VERDICT r7 #3: `create` driven by a reference-shaped config.ini
    (hisscube.py:41-42, config/config.ini keys) reproduces the flag-driven
    gold tables; explicit flags override file values; Builder.CREATE_*
    toggles and Writer.LIMIT_* caps apply."""
    import json

    from hiss_cube_spark.__main__ import main

    root = _galaxy_corpus(tmp_path_factory)

    # flag-driven baseline
    wh_flags = str(tmp_path_factory.mktemp("cfg_flags_wh"))
    assert main(_CLI_COMMON + ["--image-pattern", "frame-*-001234-*.fits",
                               root, wh_flags, "create"]) == 0

    # the same knobs spelled as the reference's config.ini keys
    # (0.6 arcmin diameter / 60 = the 0.01 deg radius; ZOOM_CNT counts
    # levels below full resolution, so 4 -> 5 zooms)
    ini = os.path.join(str(tmp_path_factory.mktemp("cfg")), "config.ini")
    with open(ini, "w") as f:
        f.write("""
[Builder]
CREATE_ML_CUBE = True
CREATE_VISUALIZATION_CUBE = True

[Handler]
IMAGE_CUTOUT_SIZE = 16
IMG_ZOOM_CNT = 4
SPEC_ZOOM_CNT = 4
IMAGE_CHUNK_SIZE

[Writer]
IMAGE_PATTERN = frame-*-001234-*.fits
SPECTRA_PATTERN = *.fits
MAX_CUTOUT_REFS = 200

[SDSS]
REBIN_SAMPLES = 128
IMG_DIAMETER_ANG_MIN = 0.6            # 0.01 deg link radius
""")
    wh_cfg = str(tmp_path_factory.mktemp("cfg_wh"))
    assert main(["--config", ini, root, wh_cfg, "create"]) == 0
    for t in _TABLES:
        a = spark.read.parquet(os.path.join(wh_flags, t))
        b = spark.read.parquet(os.path.join(wh_cfg, t))
        assert a.count() == b.count(), t
        assert sorted(a.columns) == sorted(b.columns), t
    s_flags = json.load(open(os.path.join(wh_flags, "_stats.json")))
    s_cfg = json.load(open(os.path.join(wh_cfg, "_stats.json")))
    assert s_flags == s_cfg

    # explicit flag overrides the file: cutout 8 beats the ini's 16
    wh_ovr = str(tmp_path_factory.mktemp("cfg_ovr_wh"))
    assert main(["--config", ini, "--cutout-size", "8",
                 root, wh_ovr, "create"]) == 0
    refs = spark.read.parquet(os.path.join(wh_ovr, "ml_cube_images"))
    from pyspark.sql import functions as F

    npx = refs.where(F.col("zoom") == 0).select(
        F.size("cutout_flux").alias("n")).head()["n"]
    assert npx == 8 * 8

    # CREATE_VISUALIZATION_CUBE = False skips the viz gold phase;
    # LIMIT_SPECTRA_COUNT = 1 caps the spectrum file count
    with open(ini, "a") as f:
        f.write("\n[DEFAULT]\n")
    ini2 = ini + ".2"
    with open(ini2, "w") as f:
        f.write(open(ini).read()
                .replace("CREATE_VISUALIZATION_CUBE = True",
                         "CREATE_VISUALIZATION_CUBE = False")
                .replace("MAX_CUTOUT_REFS = 200",
                         "MAX_CUTOUT_REFS = 200\nLIMIT_SPECTRA_COUNT = 1"))
    wh_lim = str(tmp_path_factory.mktemp("cfg_lim_wh"))
    assert main(["--config", ini2, root, wh_lim, "create"]) == 0
    assert not os.path.isdir(os.path.join(wh_lim, "visualization_cube"))
    stats = json.load(open(os.path.join(wh_lim, "_stats.json")))
    assert stats["spectra"] == 1 * 5  # one file x five zooms
