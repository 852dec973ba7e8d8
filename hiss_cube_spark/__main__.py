"""CLI — the reference's ``hisscube.py`` surface (hisscube.py:18-68) on
Spark, flag for flag:

    python -m hiss_cube_spark <input> <warehouse> create
    python -m hiss_cube_spark --image-pattern 'frame-*-004136-*.fits' \\
        --spectra-pattern '*.fits' <input> <warehouse> create
    python -m hiss_cube_spark --image-list imgs.csv --spectra-list specs.csv \\
        <input> <warehouse> update --data
    python -m hiss_cube_spark --sfr --gal-info gal_info.fits \\
        --gal-sfr gal_sfr.fits <input> <warehouse> update
    python -m hiss_cube_spark <input> <warehouse> update --link --ml-cube

Input layout follows the reference (dependency_injector.py:36-39): images
under ``<input>/images``, spectra under ``<input>/spectra``; either falls
back to ``<input>`` itself when the subdirectory is absent.

``create`` = truncate → FITS header cache → bronze ingest → link → ML cube
→ visualization cube (director.py:17-27, same order). ``update`` re-runs
the selected builders against the existing warehouse:

- ``--fits-metadata-cache`` rebuilds the ``fits_headers`` table (S4);
- ``--metadata`` / ``--data`` / ``--data-image`` / ``--data-spectrum``
  re-ingest bronze. The reference splits "group structure" (metadata)
  from "dataset fill" (data) because HDF5 separates them; a columnar
  warehouse writes both in one pass, so ``--metadata`` and ``--data``
  both map to a bronze re-ingest (documented divergence, same end state);
- ``--link`` / ``--ml-cube`` / ``--visualization-cube`` re-run one phase;
- ``--sfr`` (with ``--gal-info``/``--gal-sfr``) builds the
  ``spectra_sfr`` table — the J4 left join (processors/sfr.py:18-48).
  The reference only honors --sfr under ``update``; here ``create``
  honors it too (strict superset, same semantics).

CSV lists (S2/S3): ``--image-list`` rows (run, camcol, field) and
``--spectra-list`` rows (plate) expand to path globs
(processors/metadata.py:132-160) matched against the recursive file
listing; only matched paths are scanned. The matched-path collect is
bounded by the user's list size — an explicit enumeration, not a corpus.

Run in-process under an active SparkSession, the CLI uses that session as
configured: it neither reconfigures nor stops it.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="hiss_cube_spark",
        description="Import images and spectra in parallel (Spark)",
    )
    p.add_argument("input_path", metavar="input",
                   help="data folder that includes folders images and spectra")
    p.add_argument("output_path", metavar="output",
                   help="warehouse directory, does not need to exist "
                        "(LOCAL filesystem path — truncate/overwrite use "
                        "local fs ops; remote URIs are rejected)")
    p.add_argument("--truncate", action="store_true",
                   help="Truncate the existing warehouse first?")
    p.add_argument("--image-pattern", dest="image_pattern", default=None,
                   help="Glob pattern to match the images towards.")
    p.add_argument("--spectra-pattern", dest="spectra_pattern", default=None,
                   help="Glob pattern to match the spectra towards.")
    p.add_argument("--image-list", dest="image_list", default=None,
                   help="CSV of (run, camcol, field) to search the images by.")
    p.add_argument("--spectra-list", dest="spectra_list", default=None,
                   help="CSV of plates to search the spectra by.")
    p.add_argument("--sfr", action="store_true",
                   help="Import the star formation rates.")
    p.add_argument("--gal-info", dest="gal_info", default=None,
                   help="Path to the gal_info catalog (FITS table or parquet).")
    p.add_argument("--gal-sfr", dest="gal_sfr", default=None,
                   help="Path to the galaxy SFR catalog (FITS table or parquet).")
    # knobs that may also come from --config default to None so the
    # precedence chain (flag > config file > built-in default) can tell
    # "user set it" from "default"
    p.add_argument("--config", dest="config_path", default=None,
                   help="Path to a reference-shaped config.ini "
                        "(hisscube.py:41-42); explicit flags override "
                        "file values.")
    p.add_argument("--match-radius-deg", type=float, default=None,
                   help="Link radius in degrees (default 0.133 = the "
                        "reference's 8-arcmin image radius).")
    p.add_argument("--cutout-size", type=int, default=None,
                   help="Cutout side in pixels (default 64).")
    p.add_argument("--zooms", type=int, default=None,
                   help="Zoom levels incl. full resolution (default 5).")
    p.add_argument("--max-cutout-refs", dest="max_cutout_refs", type=int,
                   default=None,
                   help="Cap on cutout refs per spectrum (default 200; "
                        "config.ini Writer.MAX_CUTOUT_REFS).")
    p.add_argument("--limit-image-count", dest="limit_image_count",
                   type=int, default=None,
                   help="Ingest at most N image files (Writer.LIMIT_IMAGE_COUNT).")
    p.add_argument("--limit-spectra-count", dest="limit_spectra_count",
                   type=int, default=None,
                   help="Ingest at most N spectrum files (Writer.LIMIT_SPECTRA_COUNT).")
    p.add_argument("--rebin-samples", type=int, default=None,
                   help="Spectrum rebin grid size (default: reference 4620).")
    p.add_argument("--tiled", action="store_true",
                   help="Also build the image_tiles table at ingest.")
    p.add_argument("--tile", type=int, default=256)

    sub = p.add_subparsers(dest="command", required=True, help="commands")
    sub.add_parser("create", help="build the whole warehouse in one go")
    up = sub.add_parser("update", help="recreate specific warehouse parts")
    up.add_argument("--fits-metadata-cache", action="store_true",
                    help="Recreate the FITS paths + serialized headers table.")
    up.add_argument("--metadata", action="store_true",
                    help="Recreate the bronze observation tables.")
    up.add_argument("--data", action="store_true",
                    help="Re-ingest both image and spectrum data.")
    up.add_argument("--data-image", action="store_true",
                    help="Re-ingest the image data only.")
    up.add_argument("--data-spectrum", action="store_true",
                    help="Re-ingest the spectrum data only.")
    up.add_argument("--link", action="store_true",
                    help="Recreate the cutout references for each spectrum.")
    up.add_argument("--visualization-cube", action="store_true",
                    help="Recreate the visualization cube.")
    up.add_argument("--ml-cube", action="store_true",
                    help="Recreate the machine-learning cube.")
    return p


def _sub_dir(input_path: str, name: str) -> str:
    cand = os.path.join(input_path, name)
    return cand if os.path.isdir(cand) else input_path


def _list_paths(spark, directory: str, csv_path: str, kind: str) -> list[str]:
    """CSV list → matched file paths (S2/S3). The listing scan reads path
    metadata only (column pruning keeps binaryFile content untouched);
    the collect is bounded by the user's explicit list."""
    from hiss_cube_spark.sources.csv_lists import (
        image_paths_from_csv,
        match_listing,
        spectra_paths_from_csv,
    )

    listing = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.fits*")
        .load(directory)
        .select("path")
    )
    globs = (
        image_paths_from_csv(spark, csv_path)
        if kind == "image"
        else spectra_paths_from_csv(spark, csv_path)
    )
    matched = match_listing(listing, globs.select("path_glob"))
    return [r["path"] for r in matched.select("path").distinct().collect()]


def _catalog_df(spark, path: str):
    """gal_info / gal_sfr catalog → DataFrame with the positional row_id
    the SFR concat joins on (operators/sfr.py)."""
    low = path.lower()
    if ".fits" in low or low.endswith((".fit", ".fit.gz")):
        from hiss_cube_spark.sources.fits import read_fits_table_df

        return read_fits_table_df(spark, path)
    if low.endswith(".parquet") or os.path.isdir(path):
        df = spark.read.parquet(path)
    else:
        df = spark.read.option("header", "true").option(
            "inferSchema", "true"
        ).csv(path)
    if "row_id" not in [c.lower() for c in df.columns]:
        raise ValueError(
            f"{path}: parquet/CSV catalogs need an explicit row_id column "
            "(positional-concat key); FITS catalogs get it from file order"
        )
    return df


def _build_sfr(spark, pipe, gal_info_path: str, gal_sfr_path: str) -> None:
    from pyspark.sql import functions as F

    from hiss_cube_spark.operators.sfr import spectra_with_sfr

    meta = (
        pipe.read("spectra")
        .where(F.col("zoom") == 0)
        .select(
            F.col("plateid").alias("PLATEID"),
            F.col("mjd").alias("MJD"),
            F.col("fiberid").alias("FIBERID"),
            "spec_id", "path", "plug_ra", "plug_dec",
        )
    )
    merged = spectra_with_sfr(
        meta, _catalog_df(spark, gal_info_path), _catalog_df(spark, gal_sfr_path)
    )
    merged.write.mode("overwrite").parquet(pipe.path("spectra_sfr"))
    print(f"spectra_sfr → {pipe.path('spectra_sfr')}")


def _header_cache(spark, pipe, img_dir, img_pat, spec_dir, spec_pat) -> None:
    from hiss_cube_spark.sources.fits import scan_fits_headers

    headers = scan_fits_headers(spark, img_dir, img_pat)
    if spec_dir != img_dir or spec_pat != img_pat:
        headers = headers.unionByName(
            scan_fits_headers(spark, spec_dir, spec_pat)
        ).dropDuplicates(["path"])
    headers.write.mode("overwrite").parquet(pipe.path("fits_headers"))
    print(f"fits_headers → {pipe.path('fits_headers')}")


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.sfr and not (args.gal_info and args.gal_sfr):
        build_parser().error(
            "If you want to import SFR, you need to specify --gal-info "
            "and --gal-sfr paths."
        )

    from pyspark.sql import SparkSession

    from hiss_cube_spark import get_spark
    from hiss_cube_spark.plans.pipeline import CubePipeline
    from hiss_cube_spark.sources.ingest import ingest_images, ingest_spectra

    # The CLI's truncate and overwrite_one paths use local-filesystem ops
    # (shutil.rmtree / os.replace); on a remote URI truncate would be a
    # silent no-op and overwrite would fail mid-rewrite — reject up front
    # (ADVICE r7). Library users on remote stores should drive CubePipeline
    # directly and manage deletes through their store's own API.
    import re as _re

    m = _re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", args.output_path)
    if m and m.group(1) != "file":
        print(
            f"output warehouse must be a local path; got scheme "
            f"'{m.group(1)}://' — the CLI's truncate/overwrite use local "
            "filesystem operations",
            file=sys.stderr,
        )
        return 2
    if m:  # file:// — strip to a plain local path so _truncate/overwrite
        # (os.path/shutil on the raw string) act on the SAME directory
        # Spark writes to; without this, truncate on 'file:///x' is a
        # silent no-op (os.path.isdir('file:///x') is False) while Spark
        # happily writes /x — exactly the split the guard exists to stop
        from urllib.parse import urlparse as _urlparse

        args.output_path = _urlparse(args.output_path).path or "/"

    # flag > config file > built-in default (reference precedence:
    # hisscube.py reads --config once; flags are the operator override)
    from hiss_cube_spark.config import HissCubeConfig

    cfg = (
        HissCubeConfig.from_ini(args.config_path)
        if args.config_path
        else HissCubeConfig()
    )
    knobs = cfg.merged_under(
        match_radius_deg=args.match_radius_deg,
        cutout_size=args.cutout_size,
        zooms=args.zooms,
        max_refs=args.max_cutout_refs,
        image_pattern=args.image_pattern,
        spectra_pattern=args.spectra_pattern,
        limit_image_count=args.limit_image_count,
        limit_spectra_count=args.limit_spectra_count,
        rebin_samples=args.rebin_samples,
    )
    zooms = knobs["zooms"] if knobs["zooms"] is not None else 5
    rebin_samples = knobs["rebin_samples"]
    limit_images = knobs["limit_image_count"]
    limit_spectra = knobs["limit_spectra_count"]
    build_ml = cfg.create_ml_cube is not False
    build_viz = cfg.create_visualization_cube is not False

    # a caller's session is the caller's: get_spark's getOrCreate would
    # rewrite its runtime SQL options, setLogLevel its log level
    spark = SparkSession.getActiveSession()
    owns_session = spark is None
    if owns_session:
        spark = get_spark("hiss-cube-cli")
        spark.sparkContext.setLogLevel("WARN")
    pipe = CubePipeline(
        spark,
        args.output_path,
        match_radius_deg=(
            knobs["match_radius_deg"]
            if knobs["match_radius_deg"] is not None else 0.133
        ),
        cutout_size=(
            knobs["cutout_size"] if knobs["cutout_size"] is not None else 64
        ),
        zooms=zooms,
        max_refs=knobs["max_refs"] if knobs["max_refs"] is not None else 200,
        tiled=args.tiled,
        tile=args.tile,
    )
    img_dir = _sub_dir(args.input_path, "images")
    spec_dir = _sub_dir(args.input_path, "spectra")
    img_pat = knobs["image_pattern"] or "*.fits*"
    spec_pat = knobs["spectra_pattern"] or "*.fits*"

    def _ingest(kind: str) -> int:
        """Write one bronze table; returns its row count (observed on the
        same pass via the sink's Observation — no second scan)."""
        if kind == "images":
            paths = (
                _list_paths(spark, img_dir, args.image_list, "image")
                if args.image_list else None
            )
            if args.image_list and not paths:
                print("image list matched no files", file=sys.stderr)
                return 0
            df = ingest_images(
                spark, img_dir, img_pat, zooms=zooms, paths=paths,
                limit=limit_images,
            )
        else:
            paths = (
                _list_paths(spark, spec_dir, args.spectra_list, "spectrum")
                if args.spectra_list else None
            )
            if args.spectra_list and not paths:
                print("spectra list matched no files", file=sys.stderr)
                return 0
            df = ingest_spectra(
                spark, spec_dir, spec_pat, zooms=zooms,
                rebin_samples=rebin_samples, paths=paths,
                limit=limit_spectra,
            )
        pipe.write_bronze(df, kind)
        n = pipe.stats.get(kind, 0)
        print(f"ingested {kind} → {pipe.path(kind)} ({n} rows)")
        return n

    def _truncate() -> None:
        if os.path.isdir(args.output_path):
            shutil.rmtree(args.output_path)

    if args.command == "create":
        _truncate()  # ref create always truncates (director.py:18)
        _header_cache(spark, pipe, img_dir, img_pat, spec_dir, spec_pat)
        n_img = _ingest("images")
        n_spec = _ingest("spectra")
        if args.tiled and n_img:
            pipe.phase_tiles()
        if n_img and n_spec:
            pipe.phase_link()
            # Builder.CREATE_ML_CUBE / CREATE_VISUALIZATION_CUBE toggles
            # (reference: director.py chooses the builders from config)
            if build_ml:
                pipe.phase_ml_cube()
            if build_viz:
                pipe.phase_visualization()
        else:
            print(
                "skipping link/gold phases: need both images and spectra "
                f"(got {n_img}/{n_spec} rows)", file=sys.stderr,
            )
        if args.sfr:
            _build_sfr(spark, pipe, args.gal_info, args.gal_sfr)
        if pipe.stats:
            import json

            with open(pipe.path("_stats.json"), "w") as f:
                json.dump(pipe.stats, f, indent=2, sort_keys=True)
    else:  # update
        if args.truncate:
            _truncate()
        if args.fits_metadata_cache:
            _header_cache(spark, pipe, img_dir, img_pat, spec_dir, spec_pat)
        do_img = args.metadata or args.data or args.data_image
        do_spec = args.metadata or args.data or args.data_spectrum
        if do_img:
            _ingest("images")
        if do_spec:
            _ingest("spectra")
        if args.link:
            pipe.phase_link()
        if args.visualization_cube:
            pipe.phase_visualization()
        if args.ml_cube:
            pipe.phase_ml_cube()
        if args.sfr:
            _build_sfr(spark, pipe, args.gal_info, args.gal_sfr)

    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
