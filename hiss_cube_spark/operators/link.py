"""The link phase (SURVEY.md J2): spectra ↔ overlapping image cutouts.

Reference: LinkBuilder → _write_region_ref_from_image_idx
(metadata_strategy_spectrum.py:440-477,648-675): healpix disc query + sorted
index probe + WCS cutout bounds + wholeness filter, ≤200 refs/spectrum.

Spark formulation: one cell-equi-join cross-match (operators/crossmatch) at
zoom 0, then per-zoom bounds via the zoom-rescaled WCS — all native
expressions. Output one row per (spec_id, image_id, zoom) with the bounds
struct, capped deterministically per spectrum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hiss_cube_spark.functions.wcs import rescale_wcs_for_zoom
from hiss_cube_spark.operators.crossmatch import crossmatch, cap_matches_per_probe
from hiss_cube_spark.operators.cutouts import cutout_bounds, is_cutout_whole

__all__ = ["build_cutout_refs"]


def build_cutout_refs(
    spectra: DataFrame,
    images: DataFrame,
    match_radius_deg: float,
    zooms: int = 5,
    cutout_size: int = 64,
    max_refs: int = 200,
    index: str = "healpix",
) -> DataFrame:
    """Cutout reference table: (spec_id, image_id, zoom, band, wl, bounds…).

    ``spectra``: zoom-0 rows with (spec_id, plug_ra, plug_dec, time).
    ``images``: zoom-0 rows with (image_id, ra, dec, band, wl, naxis1,
    naxis2, wcs, tai_time).

    The spatial join happens ONCE at zoom 0; lower-zoom bounds derive from
    the rescaled WCS arithmetically (no extra joins) and are exploded from a
    per-zoom array — the same "link once, reference every resolution"
    shape as the reference (metadata_strategy_spectrum.py:648-675).

    ``index`` defaults to HEALPix — the reference's own family
    (query_disc, astrometry.py:158-182), pole-correct for real sky-survey
    data; ``"grid"`` is the equatorial/oracle-parity family (same match
    set away from the poles, documented caveat at
    functions/spatial.py:71-74).
    """
    m = crossmatch(
        spectra.select("spec_id", F.col("plug_ra").alias("ra"), F.col("plug_dec").alias("dec")),
        images.select("image_id", "ra", "dec", "band", "wl", "naxis1", "naxis2", "wcs", "tai_time"),
        radius_deg=match_radius_deg,
        probe_ra="ra",
        probe_dec="dec",
        target_ra="ra",
        target_dec="dec",
        index=index,
    )
    # Deterministic cap BEFORE the zoom explode (the reference caps refs per
    # spectrum at the original resolution, config.ini:36).
    m = cap_matches_per_probe(m, probe_key="p_spec_id", order_col="t_image_id", max_refs=max_refs)

    # Each zoom's cutout corner is read four times (both bounds, both
    # wholeness tests). One projection computes it once; Catalyst does not
    # collapse a projection whose non-trivial outputs are read more than
    # once, so the WCS arithmetic appears once per zoom in the plan.
    corner, per_zoom = {}, []
    for z in range(zooms):
        wcs_z = rescale_wcs_for_zoom(F.col("t_wcs"), z)
        size = max(cutout_size >> z, 1)
        x, _, y, _ = cutout_bounds(wcs_z, F.col("p_ra"), F.col("p_dec"), size)
        corner[f"_x{z}"], corner[f"_y{z}"] = x, y
        x0, y0 = F.col(f"_x{z}"), F.col(f"_y{z}")
        x1, y1 = x0 + size, y0 + size
        n1 = (F.col("t_naxis1") / F.lit(1 << z)).cast("int")
        n2 = (F.col("t_naxis2") / F.lit(1 << z)).cast("int")
        per_zoom.append(
            F.struct(
                F.lit(z).alias("zoom"),
                x0.alias("x_min"),
                x1.alias("x_max"),
                y0.alias("y_min"),
                y1.alias("y_max"),
                is_cutout_whole(x0, x1, y0, y1, n1, n2).alias("whole"),
            )
        )
    return (
        m.withColumns(corner)
        .withColumn("_z", F.explode(F.array(*per_zoom)))
        .where(F.col("_z.whole"))
        .select(
            F.col("p_spec_id").alias("spec_id"),
            F.col("t_image_id").alias("image_id"),
            F.col("t_band").alias("band"),
            F.col("t_wl").alias("wl"),
            F.col("t_tai_time").alias("tai_time"),
            F.col("_z.zoom").alias("zoom"),
            F.col("_z.x_min").alias("x_min"),
            F.col("_z.x_max").alias("x_max"),
            F.col("_z.y_min").alias("y_min"),
            F.col("_z.y_max").alias("y_max"),
            F.col("match_dist"),
        )
    )
