"""ML cube — the reference's "Global DB query" (SURVEY.md §3.2).

Reference: DatasetMLProcessorStrategy.create_3d_cube
(metadata_strategy_cube_ml.py:520-596): group spectra into targets (same
healpix cell), take the first spectrum's cutout refs, dereference pixel
blocks, group cutouts by band, apply the inverse-variance-weighted mean over
observations, keep only targets covered in all 5 bands.

Spark formulation — one declarative pipeline, no preallocation/compaction:

    spectra ⟶ groupBy(target) ivw over flux arrays           (spectra side)
    refs ⟶ first-spectrum filter ⟶ join images ⟶ slice ⟶
           groupBy(target, zoom, band) ivw over cutout stacks (image side)
    both filtered to 5-band-complete targets

The reference's shrink/prefix-sum/merge machinery (builders_parallel.py:
460-565) disappears: shuffles emit dense outputs by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hiss_cube_spark.operators.cutouts import dereference_cutouts
from hiss_cube_spark.operators.ivw import ivw_aggregate_arrays
from hiss_cube_spark.pins import pin

__all__ = ["assign_targets", "ml_cube_spectra", "ml_cube_images", "build_ml_cube"]


def assign_targets(spectra: DataFrame, cell_col: str = "healpix") -> DataFrame:
    """Target id = the spatial cell shared by co-located spectra (J6;
    ref _get_target_spectra_spatial_ranges, cube_ml.py:598-602)."""
    return spectra.withColumn("target_id", F.col(cell_col))


def ml_cube_spectra(spectra: DataFrame) -> DataFrame:
    """Per-(target, zoom) ivw-mean spectrum over member spectra (A1).

    Input rows: (target_id, zoom, flux_mean array<float>, flux_sigma
    array<float>); one grouped-map aggregation, arrays never exploded.
    """
    return ivw_aggregate_arrays(
        spectra.select("target_id", "zoom", "flux_mean", "flux_sigma"),
        ["target_id", "zoom"],
        flux_col="flux_mean",
        sigma_col="flux_sigma",
        mean_name="flux",
        sigma_name="sigma",
    )


def ml_cube_images(
    refs: DataFrame,
    images: DataFrame,
    spectra: DataFrame,
    tiles: DataFrame | None = None,
    tile: int = 256,
) -> DataFrame:
    """Per-(target, zoom, band) ivw-mean cutout stack.

    ``refs``: the link table (spec_id, image_id, zoom, band, bounds).
    Cutouts are taken from the FIRST spectrum of each target only (J7;
    ref cube_ml.py:652-655) — a row_number window on the target's spectra.

    ``tiles``: optional tiled raster table (`tiles.tile_images` layout).
    When given, cutouts dereference against it — only the ≤4 covering
    tiles per cutout are read instead of whole frames (the HDF5 chunked
    region read of the reference, io_strategy.py:80-91; at 100 TB the
    frame scan reads ~0.4% of the bytes this way). ``images`` is then
    untouched on the pixel path.
    """
    first_spec = (
        spectra.select("spec_id", "target_id")
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("target_id").orderBy(F.col("spec_id"))),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    refs_first = refs.join(first_spec, "spec_id")
    if tiles is not None:
        from hiss_cube_spark.operators.tiles import dereference_cutouts_tiled

        cut = dereference_cutouts_tiled(refs_first, tiles, tile=tile)
    else:
        cut = dereference_cutouts(refs_first, images)
    flat = cut.select(
        "target_id",
        "zoom",
        "band",
        F.flatten("cutout_data").alias("flux"),
        F.flatten("cutout_errors").alias("sigma"),
    )
    return ivw_aggregate_arrays(
        flat, ["target_id", "zoom", "band"], flux_col="flux", sigma_col="sigma",
        mean_name="cutout_flux", sigma_name="cutout_sigma",
    )


def build_ml_cube(
    spectra: DataFrame,
    refs: DataFrame,
    images: DataFrame,
    n_bands: int = 5,
    materialize: bool = False,
    tiles: DataFrame | None = None,
    tile: int = 256,
) -> tuple[DataFrame, DataFrame]:
    """(ml_cube_spectra, ml_cube_images) filtered to band-complete targets
    (P7; ref cube_ml.py:260-262: a target counts only with cutouts in all
    5 filters).

    ``materialize=True`` eagerly pins the cutout table BEFORE the
    completeness filter. Both returned cubes derive from that table — the
    completeness set feeds the spectra cube too — so a consumer running
    MORE THAN ONE action over the pair (the pipeline writes two tables)
    re-executes the full-frame scan per action unless the table is pinned
    (lazy re-derivation; see the round-5 scan audit). Single-action
    consumers (the flagship query) should leave it off — an eager pin
    would only add a pass there. The pin is the caller's to release
    (``pins.scope``)."""
    targeted = assign_targets(spectra) if "target_id" not in spectra.columns else spectra
    img_cube = ml_cube_images(refs, images, targeted, tiles=tiles, tile=tile)
    if materialize:
        img_cube = pin(img_cube, eager=True)
    complete = (
        img_cube.where(F.col("zoom") == 0)
        .groupBy("target_id")
        .agg(F.countDistinct("band").alias("_nb"))
        .where(F.col("_nb") >= n_bands)
        .select("target_id")
    )
    # SIZE GUARD on the broadcast: `complete` is one LONG per
    # band-complete target — ~8 MB per million targets, tens of MB at
    # full-survey scale (SDSS ~4M spectra), comfortably under Spark's
    # 8 GB broadcast ceiling. If a future survey pushes targets toward
    # ~1e9, drop the two F.broadcast hints and let AQE pick the
    # strategy — the join stays correct, only the physical plan changes.
    spec_cube = ml_cube_spectra(targeted).join(F.broadcast(complete), "target_id")
    img_cube = img_cube.join(F.broadcast(complete), "target_id")
    return spec_cube, img_cube
