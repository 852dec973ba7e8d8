"""Photometric scalar functions (SURVEY.md F6–F8) — native column math.

Formulas mirror the reference's utils/photometry.py; all are plain arithmetic
so they stay JVM-side in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# SDSS filter midpoints in Angstrom (ref: utils/photometry.py:34-40).
FILTER_MIDPOINTS = {"u": 3551, "g": 4686, "r": 6166, "i": 7480, "z": 8932}

# ref: utils/photometry.py:168-169
_MAG_CONST = 3.631e-6 * 2.99792458e-5


def mag_to_flux(mag_ratio: Column, wl_midpoint: Column) -> Column:
    """Convert a linear magnitude ratio to flux density.

    ``x * 3.631e-6 * 2.99792458e-5 / midpoint²`` (ref photometry.py:168-169).
    """
    return mag_ratio * F.lit(_MAG_CONST) / (wl_midpoint * wl_midpoint)


def flux_to_flux_density(flux: Column, fiber_area: Column, pixel_area: Column) -> Column:
    """Scale flux by the fiber/pixel area ratio (ref photometry.py:171-175)."""
    return flux * (pixel_area / fiber_area)


def ivw_components(flux: Column, sigma: Column) -> tuple[Column, Column]:
    """(flux·w, w) terms of the inverse-variance weighting, NaN/0-guarded.

    NaN flux or non-positive/NaN sigma contribute nothing (the reference uses
    nansum — metadata_strategy_cube_ml.py:26-37); we map NaN→null so Spark's
    null-skipping ``sum`` reproduces nansum exactly.
    """
    valid = (~F.isnan(flux)) & (~F.isnan(sigma)) & (sigma > F.lit(0.0))
    w = F.when(valid, F.lit(1.0) / (sigma * sigma))
    fw = F.when(valid, flux) * w
    return fw, w
