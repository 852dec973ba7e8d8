"""Linear WCS transforms (SURVEY.md F3/F4) — native column expressions.

The reference builds an astropy TAN WCS then uses only its linear part for
cutout bounds (utils/astrometry.py:39-125). For small fields the TAN
projection is locally affine, so world↔pixel is a 2×2 matrix op on the WCS
struct columns — pure Catalyst expressions, no Python. The transforms take
the WCS as anything indexable by field name: the struct column itself, or
the per-zoom mapping `rescale_wcs_for_zoom` returns.

WCS struct fields (FIXTURES.md §1): crpix1 crpix2 cd1_1 cd1_2 cd2_1 cd2_2
crval1 crval2 ctype1 ctype2.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column

__all__ = ["world_to_pixel", "pixel_to_world", "rescale_wcs_for_zoom"]


def _det(wcs: Column | Mapping[str, Column]) -> Column:
    return wcs["cd1_1"] * wcs["cd2_2"] - wcs["cd1_2"] * wcs["cd2_1"]


def world_to_pixel(
    wcs: Column | Mapping[str, Column], ra: Column, dec: Column
) -> tuple[Column, Column]:
    """(x, y) 0-based pixel coordinates of a world position.

    Inverts the linear system [dra, ddec] = CD @ [x - crpix1, y - crpix2]
    (crpix here 0-based)."""
    dra = ra - wcs["crval1"]
    ddec = dec - wcs["crval2"]
    det = _det(wcs)
    dx = (wcs["cd2_2"] * dra - wcs["cd1_2"] * ddec) / det
    dy = (wcs["cd1_1"] * ddec - wcs["cd2_1"] * dra) / det
    return wcs["crpix1"] + dx, wcs["crpix2"] + dy


def pixel_to_world(
    wcs: Column | Mapping[str, Column], x: Column, y: Column
) -> tuple[Column, Column]:
    """(ra, dec) of a 0-based pixel coordinate (linear forward transform)."""
    dx = x - wcs["crpix1"]
    dy = y - wcs["crpix2"]
    ra = wcs["crval1"] + wcs["cd1_1"] * dx + wcs["cd1_2"] * dy
    dec = wcs["crval2"] + wcs["cd2_1"] * dx + wcs["cd2_2"] * dy
    return ra, dec


def rescale_wcs_for_zoom(wcs: Column, zoom: int) -> dict[str, Column]:
    """Zoom-z WCS: crpix /= 2^z, cd *= 2^z (ref astrometry.py:185-208).

    The fields come back as plain Columns keyed by name, which
    `world_to_pixel` and `pixel_to_world` index the same way they index a
    struct. A ``struct`` here would be read back through one field lookup
    per use, and a link over five zooms repeats each field in dozens of
    places: the plan's expression tree grows by a struct per use and its
    analysis and optimization dominate the link's driver time."""
    s = float(1 << zoom)
    return {
        "crpix1": wcs["crpix1"] / s,
        "crpix2": wcs["crpix2"] / s,
        "cd1_1": wcs["cd1_1"] * s,
        "cd1_2": wcs["cd1_2"] * s,
        "cd2_1": wcs["cd2_1"] * s,
        "cd2_2": wcs["cd2_2"] * s,
        "crval1": wcs["crval1"],
        "crval2": wcs["crval2"],
        "ctype1": wcs["ctype1"],
        "ctype2": wcs["ctype2"],
    }
