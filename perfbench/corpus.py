"""Seeded synthetic FITS corpus in SDSS layout for the ``cube_build`` workload.

Layout (what ``sources.ingest`` scans)::

    images/301/<run>/<camcol>/frame-<band>-<run:06d>-<camcol>-<field:04d>.fits
    spectra/<plate:04d>/spec-<plate:04d>-<mjd:05d>-<fiber:04d>.fits

plus the ``gal_info.fits`` / ``gal_sfr.fits`` catalogs, written through the
engine's own ``sources.exports.write_fits_table``.

Geometry is chosen so that every cardinality of the built warehouse is a law
of the parameters (``expected_counts``), whatever the seed:

* fields sit on rows of constant declination (one row per camcol), ``step``
  apart on the sky along RA; rows are far enough apart never to interact;
* each field gets ``EPOCHS`` spectra at its centre (one target with several
  epochs) and every pair of RA-neighbours gets one spectrum at the midpoint
  (a field-edge target that cross-matches the images of both fields);
* the match radius is ``0.75 * step``: a centre spectrum matches only its own
  field, a midpoint spectrum exactly its two neighbours;
* every cutout is whole at every zoom (midpoints sit ``0.2 * width`` inside the
  frame, cutouts are at most ``width / 8`` wide).

The seed moves the grid on the sky, jitters positions well inside those
margins and draws all pixel, flux, time and catalog values.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np

BANDS = ("u", "g", "r", "i", "z")
EPOCHS = 2
ZOOMS = 5


@dataclass(frozen=True)
class CorpusParams:
    """Corpus shape. Each default is the smallest value that keeps a
    property the workload exists to exercise."""

    #: fields per camcol row; with ``camcols`` rows this is the frame count / 5
    fields_per_row: int = 4
    camcols: int = 2
    #: frame size: 8 * width * height bytes per bronze row must exceed 32 KB
    #: so the pipeline's 128 MB vector-batch clamp engages (96 KB here)
    width: int = 128
    height: int = 96
    #: samples per raw spectrum and on the rebinned grid
    spectrum_samples: int = 1000
    rebin_samples: int = 1000
    #: zoom-0 cutout edge in pixels (1 px at zoom 4)
    cutout: int = 16
    #: degrees per pixel (SDSS frames are 0.396 arcsec/px)
    pixel_deg: float = 0.00011
    #: catalog rows that match a spectrum; the rest of the spectra get NULL SFR
    catalog_match_fraction: float = 0.75

    @property
    def step_deg(self) -> float:
        # neighbouring frames overlap by 40% of their width
        return 0.6 * self.width * self.pixel_deg

    @property
    def match_radius_deg(self) -> float:
        return 0.75 * self.step_deg

    @property
    def n_fields(self) -> int:
        return self.fields_per_row * self.camcols

    @property
    def n_edge_spectra(self) -> int:
        return (self.fields_per_row - 1) * self.camcols

    @property
    def n_spectra(self) -> int:
        return EPOCHS * self.n_fields + self.n_edge_spectra

    def as_dict(self) -> dict:
        d = asdict(self)
        d.update(match_radius_deg=self.match_radius_deg, n_spectra=self.n_spectra,
                 n_images=self.n_fields * len(BANDS))
        return d


def _card(key: str, value) -> bytes:
    if isinstance(value, bool):
        return f"{key:<8}= {'T' if value else 'F':>20}".ljust(80).encode()
    if isinstance(value, float):  # numpy scalars included; repr keeps every digit
        return f"{key:<8}= {repr(float(value)):>20}".ljust(80).encode()
    if isinstance(value, int):
        return f"{key:<8}= {value:>20}".ljust(80).encode()
    return f"{key:<8}= '{value}'".ljust(80).encode()


def _block(cards: list[bytes]) -> bytes:
    hdr = b"".join(cards) + b"END".ljust(80)
    return hdr + b" " * ((-len(hdr)) % 2880)


def _pad(data: bytes) -> bytes:
    return data + b"\x00" * ((-len(data)) % 2880)


def frame_bytes(p: CorpusParams, rng: np.random.Generator, run: int, camcol: int,
                band: str, tai: float, ra: float, dec: float) -> bytes:
    arr = rng.uniform(0.5, 2.0, (p.height, p.width)).astype(">f4")
    hdr = _block([
        _card("SIMPLE", True), _card("BITPIX", -32), _card("NAXIS", 2),
        _card("NAXIS1", p.width), _card("NAXIS2", p.height), _card("RUN", run),
        _card("CAMCOL", camcol), _card("FILTER", band), _card("TAI", tai),
        _card("CRPIX1", p.width / 2 + 1.0), _card("CRPIX2", p.height / 2 + 1.0),
        _card("CD1_1", p.pixel_deg), _card("CD1_2", 0.0),
        _card("CD2_1", 0.0), _card("CD2_2", p.pixel_deg),
        _card("CRVAL1", ra), _card("CRVAL2", dec),
        _card("CTYPE1", "RA---TAN"), _card("CTYPE2", "DEC--TAN"),
    ])
    return hdr + _pad(arr.tobytes())


def spectrum_bytes(p: CorpusParams, rng: np.random.Generator, plate: int, mjd: int,
                   fiber: int, tai: float, ra: float, dec: float) -> bytes:
    prim = _block([
        _card("SIMPLE", True), _card("BITPIX", 8), _card("NAXIS", 0),
        _card("EXTEND", True), _card("PLUG_RA", ra), _card("PLUG_DEC", dec),
        _card("TAI", tai), _card("MJD", mjd), _card("PLATEID", plate),
        _card("FIBERID", fiber),
    ])
    n = p.spectrum_samples
    rec = np.zeros(n, dtype=[("loglam", ">f4"), ("flux", ">f4"), ("ivar", ">f4")])
    # 10**loglam covers the whole rebin grid, so no rebinned sample is NaN
    rec["loglam"] = np.linspace(3.58, 3.955, n)
    rec["flux"] = rng.uniform(0.5, 5.0, n)
    rec["ivar"] = rng.uniform(1.0, 100.0, n)
    cards = [_card("XTENSION", "BINTABLE"), _card("BITPIX", 8), _card("NAXIS", 2),
             _card("NAXIS1", rec.dtype.itemsize), _card("NAXIS2", n),
             _card("PCOUNT", 0), _card("GCOUNT", 1), _card("TFIELDS", 3)]
    for i, name in enumerate(("loglam", "flux", "ivar"), 1):
        cards += [_card(f"TTYPE{i}", name), _card(f"TFORM{i}", "E")]
    return prim + _block(cards) + _pad(rec.tobytes())


def _write(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def write_fits_corpus(root: str, p: CorpusParams, seed: int) -> list[tuple[int, int, int]]:
    """Write images/ and spectra/ under ``root``; return the spectra's
    (PLATEID, MJD, FIBERID) keys in file order. Byte-identical per seed."""
    rng = np.random.default_rng(seed)
    ra0 = float(rng.uniform(20.0, 300.0))
    dec0 = float(rng.uniform(-30.0, 30.0))
    step = p.step_deg
    keys = []
    fiber = 0
    for c in range(p.camcols):
        camcol = c + 1
        run = 1000 + int(rng.integers(0, 8000))
        dec = dec0 + 12 * c * step
        dra = step / np.cos(np.radians(dec))
        plate = 3000 + 10 * c + int(rng.integers(0, 10))
        mjd = 55000 + int(rng.integers(0, 1000))
        centres = [(ra0 + f * dra, dec) for f in range(p.fields_per_row)]
        for f, (ra, de) in enumerate(centres):
            field = 11 + f
            tai0 = float(rng.uniform(4.0e9, 4.5e9))
            for bi, band in enumerate(BANDS):
                name = f"frame-{band}-{run:06d}-{camcol}-{field:04d}.fits"
                path = os.path.join(root, "images", "301", str(run), str(camcol), name)
                _write(path, frame_bytes(p, rng, run, camcol, band, tai0 + 60.0 * bi, ra, de))
        # spectra: EPOCHS per field centre (same position), one per midpoint
        spots = [(ra, de) for ra, de in centres for _ in range(EPOCHS)]
        jitter = 0.05 * p.pixel_deg * p.width
        spots += [
            ((centres[f][0] + centres[f + 1][0]) / 2 + float(rng.uniform(-jitter, jitter)) / np.cos(np.radians(dec)),
             dec + float(rng.uniform(-jitter, jitter)))
            for f in range(p.fields_per_row - 1)
        ]
        for ra, de in spots:
            fiber += 1
            tai = float(rng.uniform(4.0e9, 4.5e9))
            name = f"spec-{plate:04d}-{mjd:05d}-{fiber:04d}.fits"
            path = os.path.join(root, "spectra", f"{plate:04d}", name)
            _write(path, spectrum_bytes(p, rng, plate, mjd, fiber, tai, ra, de))
            keys.append((plate, mjd, fiber))
    return keys


def catalog_rows(p: CorpusParams, keys: list[tuple[int, int, int]], seed: int):
    """gal_info and gal_sfr rows (same row order, as the survey ships them):
    a seeded share of the spectra plus as many rows that match no spectrum."""
    rng = np.random.default_rng(seed + 1)
    n_match = int(round(p.catalog_match_fraction * len(keys)))
    picked = [keys[i] for i in sorted(rng.choice(len(keys), n_match, replace=False))]
    strays = [(9000 + i, 50000 + i, 1 + i) for i in range(n_match)]
    info, sfr = [], []
    for plate, mjd, fiber in picked + strays:
        info.append((plate, mjd, fiber, float(rng.uniform(0.0, 0.3))))
        sfr.append((float(rng.uniform(-3.0, 1.0)), float(rng.uniform(-3.0, 1.0))))
    return info, sfr, n_match


def write_catalogs(spark, root: str, p: CorpusParams, keys, seed: int) -> int:
    """Write gal_info.fits / gal_sfr.fits with the engine's FITS writer;
    return how many spectra the catalog matches."""
    from hiss_cube_spark.sources.exports import write_fits_table

    info, sfr, n_match = catalog_rows(p, keys, seed)
    write_fits_table(
        spark.createDataFrame(info, "PLATEID int, MJD int, FIBERID int, Z double"),
        os.path.join(root, "gal_info.fits"),
    )
    write_fits_table(
        spark.createDataFrame(sfr, "AVG double, MEDIAN double"),
        os.path.join(root, "gal_sfr.fits"),
    )
    return n_match


def expected_counts(p: CorpusParams, n_match: int, export_zoom: int) -> dict[str, int]:
    """Row counts every build of this corpus must produce."""
    n_img = p.n_fields * len(BANDS)
    refs_per_zoom = EPOCHS * p.n_fields * len(BANDS) + p.n_edge_spectra * 2 * len(BANDS)
    samples = [p.rebin_samples]
    for _ in range(ZOOMS - 1):
        samples.append(samples[-1] // 2)
    viz = [p.n_spectra * samples[z] + refs_per_zoom * max(p.cutout >> z, 1) ** 2
           for z in range(ZOOMS)]
    targets = p.n_fields + p.n_edge_spectra
    return {
        "images": n_img * ZOOMS,
        "spectra": p.n_spectra * ZOOMS,
        "cutout_refs": refs_per_zoom * ZOOMS,
        "ml_cube_spectra": targets * ZOOMS,
        "ml_cube_images": targets * ZOOMS * len(BANDS),
        "visualization_cube": sum(viz),
        "export_rows": viz[export_zoom],
        "spectra_sfr": p.n_spectra,
        "spectra_sfr_matched": n_match,
    }


def expected_gold(root: str, p: CorpusParams) -> dict:
    """Content every build of the corpus under ``root`` must produce in the
    gold tables, from each spectrum file parsed on its own with the engine's
    single-file reader and the numpy ivw kernel (the build parses the same
    files in Python workers and aggregates them across a shuffle):

    * ``spectra``: ml_cube_spectra's (target_id, zoom) -> (flux, sigma),
      the ivw mean over the target's spectra, a target being the spectra
      that share a HEALPix cell;
    * ``images``: ml_cube_images' (target_id, zoom, band) key set, every
      target having cutouts in all bands;
    * ``viz``: the visualization cube's spectrum samples, (file name, zoom)
      -> flux in wavelength order.
    """
    from hiss_cube_spark.operators.ivw import ivw_np
    from hiss_cube_spark.sources.ingest import spectrum_rows_from_fits

    members: dict[tuple[int, int], list[dict]] = {}
    viz = {}
    for d, _, files in sorted(os.walk(os.path.join(root, "spectra"))):
        for name in sorted(files):
            with open(os.path.join(d, name), "rb") as f:
                rows = spectrum_rows_from_fits(f.read(), name, ZOOMS, p.rebin_samples)
            for r in rows:
                members.setdefault((r["healpix"], r["zoom"]), []).append(r)
                viz[(name, r["zoom"])] = r["flux_mean"]
    spectra = {}
    for key, rs in members.items():
        mean, sig = ivw_np(np.stack([r["flux_mean"] for r in rs]),
                           np.stack([r["flux_sigma"] for r in rs]))
        spectra[key] = (mean.astype(np.float32), sig.astype(np.float32))
    images = {(t, z, b) for t, z in spectra for b in BANDS}
    return {"spectra": spectra, "images": images, "viz": viz}

