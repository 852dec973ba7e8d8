"""Spatial indexing: equiangular grid cells (native exprs) + nested HEALPix.

The reference indexes observations by HEALPix id and probes a sorted index
with binary search (ref: hisscube/utils/astrometry.py:158-182,
metadata_strategy_dataset.py:154-156). In Spark the index column + an
equi-join replaces the probe. Two index families:

* **grid**: an equiangular (ra, dec) grid. Pure native Column expressions —
  SQL-expressible, codegen'd, usable in the DuckDB-oracle parity suite.
* **healpix**: nested-scheme HEALPix ang2pix implemented in pure numpy as a
  pandas UDF (healpy is not available in this container; the algorithm is the
  standard one from the HEALPix paper, Górski et al. 2005). Used for parity
  with the reference's spatial semantics.

Disc covers are *supersets* of the exact disc; every cross-match applies an
exact distance post-filter, so over-coverage only costs a few candidate rows.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

__all__ = [
    "grid_cell",
    "grid_disc_cells",
    "sphere_dist_deg",
    "healpix_ang2pix_nest",
    "healpix_disc_cover",
    "grid_ncols",
]


# --------------------------------------------------------------------------
# Equiangular grid index (native expressions)
# --------------------------------------------------------------------------

def grid_ncols(cell_deg: float) -> int:
    """Number of ra columns for a given cell size."""
    return int(math.ceil(360.0 / cell_deg))


def grid_cell(ra: Column, dec: Column, cell_deg: float) -> Column:
    """Cell id of a point on an equiangular (ra, dec) grid.

    ``cell = row * ncols + col`` with ``row = floor((dec+90)/s)`` and
    ``col = floor(pmod(ra,360)/s)``. Native expressions only — stays inside
    whole-stage codegen and is reproducible in ANSI SQL for the oracle.
    """
    ncols = grid_ncols(cell_deg)
    row = F.floor((dec + F.lit(90.0)) / F.lit(cell_deg))
    col = F.floor(F.pmod(ra, F.lit(360.0)) / F.lit(cell_deg))
    return (row * F.lit(ncols) + col).cast("long")


def grid_disc_cells(ra: Column, dec: Column, radius_deg: float, cell_deg: float) -> Column:
    """Array of grid cell ids covering a disc (superset cover), native exprs.

    Covers the bounding box [dec±r] × [ra±r] of the disc; ra columns wrap via
    pmod, dec rows clamp at the poles. With ``radius <= cell_deg`` this is at
    most a 3×3 neighborhood. Equivalent of the reference's
    ``get_overlapping_healpix_pixel_ids`` (astrometry.py:158-182) for the grid
    index family.

    Pole caveat: within ``radius`` of a pole the ra bounding box understates
    the true cover (all ra columns of the polar row would be needed) — use
    the HEALPix family (:func:`healpix_disc_cover`) for polar workloads; the
    equiangular grid is the equatorial/oracle-parity index.
    """
    ncols = grid_ncols(cell_deg)
    nrows = int(math.ceil(180.0 / cell_deg))
    r = F.lit(float(radius_deg))
    s = F.lit(float(cell_deg))
    row_lo = F.greatest(F.floor((dec - r + F.lit(90.0)) / s), F.lit(0))
    row_hi = F.least(F.floor((dec + r + F.lit(90.0)) / s), F.lit(nrows - 1))
    col_lo = F.floor((F.pmod(ra, F.lit(360.0)) - r) / s)
    col_hi = F.floor((F.pmod(ra, F.lit(360.0)) + r) / s)
    cells = F.flatten(
        F.transform(
            F.sequence(row_lo, row_hi),
            lambda rw: F.transform(
                F.sequence(col_lo, col_hi),
                lambda c: (rw * F.lit(ncols) + F.pmod(c, F.lit(ncols))).cast("long"),
            ),
        )
    )
    return F.array_distinct(cells)


def sphere_dist_deg(ra1: Column, dec1: Column, ra2: Column, dec2: Column) -> Column:
    """Planar angular distance with ra wraparound, in degrees.

    ``sqrt(min(|Δra|, 360-|Δra|)² + Δdec²)`` — the small-angle metric the
    cross-match post-filter uses. Exact spherical separation (haversine) is
    available via :func:`haversine_deg`; the reference's own containment test
    is likewise planar in pixel space (astrometry.py:96-137).
    """
    dra = F.abs(ra1 - ra2)
    dra = F.least(dra, F.lit(360.0) - dra)
    ddec = dec1 - dec2
    return F.sqrt(dra * dra + ddec * ddec)


def haversine_deg(ra1: Column, dec1: Column, ra2: Column, dec2: Column) -> Column:
    """Great-circle separation in degrees (haversine, numerically stable)."""
    to_rad = F.lit(math.pi / 180.0)
    phi1, phi2 = dec1 * to_rad, dec2 * to_rad
    dphi = (dec2 - dec1) * to_rad
    dlmb = (ra2 - ra1) * to_rad
    a = F.sin(dphi / 2) ** 2 + F.cos(phi1) * F.cos(phi2) * F.sin(dlmb / 2) ** 2
    return F.lit(2.0) * F.asin(F.sqrt(a)) / to_rad


# --------------------------------------------------------------------------
# Nested HEALPix (pure numpy; pandas UDFs)
# --------------------------------------------------------------------------

def _ang2pix_nest_np(ra_deg: np.ndarray, dec_deg: np.ndarray, nside: int) -> np.ndarray:
    """Vectorized nested-scheme ang2pix (Górski et al. 2005 algorithm).

    Mirrors the semantics of healpy.ang2pix(nside, ra, dec, nest=True,
    lonlat=True) as used at reference metadata_strategy_dataset.py:154-156.
    """
    ra = np.mod(np.asarray(ra_deg, dtype=np.float64), 360.0)
    dec = np.asarray(dec_deg, dtype=np.float64)
    z = np.sin(np.deg2rad(dec))
    za = np.abs(z)
    tt = np.mod(ra / 90.0, 4.0)  # phi / (pi/2) in [0, 4)

    ix = np.empty(ra.shape, dtype=np.int64)
    iy = np.empty(ra.shape, dtype=np.int64)
    face = np.empty(ra.shape, dtype=np.int64)

    eq = za <= 2.0 / 3.0
    if np.any(eq):
        temp1 = nside * (0.5 + tt[eq])
        temp2 = nside * z[eq] * 0.75
        jp = (temp1 - temp2).astype(np.int64)  # ascending edge index
        jm = (temp1 + temp2).astype(np.int64)  # descending edge index
        ifp = jp >> int(np.log2(nside)) if nside > 1 else jp
        ifm = jm >> int(np.log2(nside)) if nside > 1 else jm
        f = np.where(
            ifp == ifm,
            (ifp & 3) + 4,
            np.where(ifp < ifm, ifp & 3, (ifm & 3) + 8),
        )
        face[eq] = f
        ix[eq] = jm & (nside - 1)
        iy[eq] = nside - (jp & (nside - 1)) - 1

    po = ~eq
    if np.any(po):
        ntt = np.minimum(tt[po].astype(np.int64), 3)
        tp = tt[po] - ntt
        tmp = nside * np.sqrt(3.0 * (1.0 - za[po]))
        jp = np.minimum((tp * tmp).astype(np.int64), nside - 1)
        jm = np.minimum(((1.0 - tp) * tmp).astype(np.int64), nside - 1)
        north = z[po] >= 0
        face[po] = np.where(north, ntt, ntt + 8)
        ix[po] = np.where(north, nside - jm - 1, jp)
        iy[po] = np.where(north, nside - jp - 1, jm)

    return face * nside * nside + _interleave_bits(ix, iy)


def _interleave_bits(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    """Morton-interleave ix (even bits) and iy (odd bits)."""
    out = np.zeros_like(ix)
    for b in range(32):
        out |= ((ix >> b) & 1) << (2 * b)
        out |= ((iy >> b) & 1) << (2 * b + 1)
    return out


def _deinterleave_bits(p: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`_interleave_bits`."""
    ix = np.zeros_like(p)
    iy = np.zeros_like(p)
    for b in range(32):
        ix |= ((p >> (2 * b)) & 1) << b
        iy |= ((p >> (2 * b + 1)) & 1) << b
    return ix, iy


# Face rows / longitude offsets of the 12 base pixels (Górski et al. 2005).
_JRLL = np.array([2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4], dtype=np.int64)
_JPLL = np.array([1, 3, 5, 7, 0, 2, 4, 6, 1, 3, 5, 7], dtype=np.int64)


def _pix2ang_nest_np(pix: np.ndarray, nside: int) -> tuple[np.ndarray, np.ndarray]:
    """Pixel-center (ra_deg, dec_deg) of nested ids — inverse of
    :func:`_ang2pix_nest_np` (mirrors healpy.pix2ang(..., nest=True,
    lonlat=True) semantics)."""
    p = np.asarray(pix, dtype=np.int64)
    npface = nside * nside
    face = p // npface
    ix, iy = _deinterleave_bits(p % npface)

    jr = _JRLL[face] * nside - ix - iy - 1  # ring index, 1 .. 4*nside-1
    north = jr < nside
    south = jr > 3 * nside
    eq = ~(north | south)

    nr = np.full(p.shape, nside, dtype=np.int64)
    z = np.empty(p.shape, dtype=np.float64)
    kshift = np.zeros(p.shape, dtype=np.int64)

    nr[north] = jr[north]
    z[north] = 1.0 - (nr[north] * nr[north]) / (3.0 * npface)
    nr[south] = 4 * nside - jr[south]
    z[south] = (nr[south] * nr[south]) / (3.0 * npface) - 1.0
    z[eq] = (2 * nside - jr[eq]) * 2.0 / (3.0 * nside)
    kshift[eq] = (jr[eq] - nside) & 1

    jp = (_JPLL[face] * nr + ix - iy + 1 + kshift) // 2
    jp = np.where(jp > 4 * nside, jp - 4 * nside, jp)
    jp = np.where(jp < 1, jp + 4 * nside, jp)
    phi = (jp - (kshift + 1) * 0.5) * (np.pi / 2.0) / nr

    ra = np.mod(np.degrees(phi), 360.0)
    dec = np.degrees(np.arcsin(np.clip(z, -1.0, 1.0)))
    return ra, dec


def healpix_ang2pix_nest(ra: Column, dec: Column, order: int) -> Column:
    """Nested HEALPix pixel id at ``order`` (nside = 2**order), pandas UDF.

    The reference computes this with healpy at order IMG_SPAT_INDEX_ORDER-1=10
    for images and 15 for spectra (FIXTURES.md §1–2, config.ini:17-18).
    """
    nside = 1 << order

    @F.pandas_udf(LongType())
    def _udf(ra_s: pd.Series, dec_s: pd.Series) -> pd.Series:
        return pd.Series(_ang2pix_nest_np(ra_s.to_numpy(), dec_s.to_numpy(), nside))

    return _udf(ra, dec)


def _isqrt_np(x: np.ndarray) -> np.ndarray:
    """Exact floor-sqrt of non-negative int64 (float sqrt + ±1 fixup)."""
    r = np.floor(np.sqrt(x.astype(np.float64))).astype(np.int64)
    r = np.where((r + 1) * (r + 1) <= x, r + 1, r)
    return np.where(r * r > x, r - 1, r)


def _ring2nest_np(pix: np.ndarray, nside: int) -> np.ndarray:
    """RING-scheme → NESTED-scheme pixel id conversion (Górski et al. 2005).

    Inverse bookkeeping of :func:`_pix2ang_nest_np`: recover (ring-from-
    north jr, 1-based in-ring index iphi, phase kshift, cap radius nr,
    face), then ix = (ipt−irt)/2, iy = −(ipt+irt)/2 with
    irt = jr − jrll·nside + 1 and ipt = 2·iphi − jpll·nr − kshift − 1.
    """
    p = np.asarray(pix, dtype=np.int64)
    npface = np.int64(nside) * nside
    npix = 12 * npface
    ncap = 2 * nside * (nside - 1)

    jr = np.empty(p.shape, dtype=np.int64)  # ring index from north
    iphi = np.empty(p.shape, dtype=np.int64)  # 1-based index in ring
    kshift = np.zeros(p.shape, dtype=np.int64)
    nr = np.empty(p.shape, dtype=np.int64)
    face = np.empty(p.shape, dtype=np.int64)

    no = p < ncap
    if np.any(no):
        ir = (1 + _isqrt_np(1 + 2 * p[no])) >> 1
        jr[no] = ir
        iphi[no] = p[no] + 1 - 2 * ir * (ir - 1)
        nr[no] = ir
        face[no] = (iphi[no] - 1) // ir

    eq = (p >= ncap) & (p < npix - ncap)
    if np.any(eq):
        ip = p[eq] - ncap
        tmp = ip // (4 * nside)
        ir = tmp + nside
        jr[eq] = ir
        iphi[eq] = ip - tmp * 4 * nside + 1
        kshift[eq] = (ir + nside) & 1
        nr[eq] = nside
        ire = ir - nside + 1
        irm = 2 * nside + 2 - ire
        ifm = (iphi[eq] - ire // 2 + nside - 1) // nside
        ifp = (iphi[eq] - irm // 2 + nside - 1) // nside
        face[eq] = np.where(ifp == ifm, ifp | 4, np.where(ifp < ifm, ifp, ifm + 8))

    so = p >= npix - ncap
    if np.any(so):
        ip = npix - p[so]
        ir = (1 + _isqrt_np(2 * ip - 1)) >> 1
        iphi[so] = 4 * ir + 1 - (ip - 2 * ir * (ir - 1))
        nr[so] = ir
        face[so] = 8 + (iphi[so] - 1) // ir
        jr[so] = 4 * nside - ir

    irt = jr - _JRLL[face] * nside + 1
    ipt = 2 * iphi - _JPLL[face] * nr - kshift - 1
    ipt = np.where(ipt >= 2 * nside, ipt - 8 * nside, ipt)
    ix = (ipt - irt) >> 1
    iy = -(ipt + irt) >> 1
    return face * npface + _interleave_bits(ix, iy)


def _query_disc_ring_np(
    ra0_deg: float, dec0_deg: float, radius_rad: float, nside: int
) -> np.ndarray:
    """RING ids of all pixels whose CENTER lies within ``radius_rad`` of the
    probe — the HEALPix query_disc ring walk (Górski et al. 2005 §4;
    reference usage astrometry.py:158-182): clip the disc's z-range to a
    ring interval in closed form, then per ring solve the spherical
    triangle for the φ half-width and enumerate the in-ring index range.
    Cost is O(rings + output), no point sampling.
    """
    theta0 = math.radians(90.0 - dec0_deg)  # colatitude
    phi0 = math.radians(ra0_deg % 360.0)
    z0 = math.cos(theta0)
    sth0 = math.sin(theta0)
    r = min(radius_rad, math.pi)
    zmax = math.cos(theta0 - r) if theta0 - r > 0 else 1.0
    zmin = math.cos(theta0 + r) if theta0 + r < math.pi else -1.0

    def ring_coord(z: float) -> float:
        # continuous ring number (grows north → south)
        if z > 2.0 / 3.0:
            return nside * math.sqrt(3.0 * (1.0 - z))
        if z >= -2.0 / 3.0:
            return nside * (2.0 - 1.5 * z)
        return 4 * nside - nside * math.sqrt(3.0 * (1.0 + z))

    i1 = max(1, int(math.floor(ring_coord(zmax))))
    i2 = min(4 * nside - 1, int(math.ceil(ring_coord(zmin))))
    if i1 > i2:
        return np.empty(0, dtype=np.int64)
    rings = np.arange(i1, i2 + 1, dtype=np.int64)

    north = rings < nside
    south = rings > 3 * nside
    eq = ~(north | south)
    z = np.empty(rings.shape, dtype=np.float64)
    z[north] = 1.0 - (rings[north] ** 2) / (3.0 * nside * nside)
    z[eq] = (2 * nside - rings[eq]) * 2.0 / (3.0 * nside)
    z[south] = ((4 * nside - rings[south]) ** 2) / (3.0 * nside * nside) - 1.0

    # per-ring pixel count, first RING id, and phase offset f (phi of the
    # 0-based j-th center is (j + f) * 2π/npr)
    nr = np.where(north, rings, np.where(south, 4 * nside - rings, nside))
    npr = np.where(eq, 4 * nside, 4 * nr)
    kshift = np.where(eq, (rings - nside) & 1, 0)
    f = (1.0 - kshift) * 0.5
    npix = 12 * nside * nside
    ncap = 2 * nside * (nside - 1)
    start = np.where(
        north,
        2 * nr * (nr - 1),
        np.where(
            south,
            npix - 2 * nr * (nr + 1),
            ncap + (rings - nside) * 4 * nside,
        ),
    )

    # spherical triangle: cos(dφ) = (cos r − z·z0) / (sinθ·sinθ0)
    sth = np.sqrt(np.maximum(0.0, 1.0 - z * z))
    num = math.cos(r) - z * z0
    den = sth * sth0
    with np.errstate(divide="ignore", invalid="ignore"):
        cosdphi = np.where(den > 0, num / den, np.where(num <= 0, -1.0, 1.0))
    dphi = np.arccos(np.clip(cosdphi, -1.0, 1.0))

    out = []
    two_pi = 2.0 * math.pi
    for k in range(rings.shape[0]):
        if cosdphi[k] > 1.0 - 1e-15 and den[k] == 0.0:
            continue  # ring outside the φ cone (pole-adjacent degenerate)
        delta = two_pi / npr[k]
        j_lo = int(math.ceil((phi0 - dphi[k]) / delta - f[k]))
        j_hi = int(math.floor((phi0 + dphi[k]) / delta - f[k]))
        if j_hi < j_lo:
            continue
        if j_hi - j_lo + 1 >= npr[k]:
            out.append(start[k] + np.arange(npr[k], dtype=np.int64))
        else:
            out.append(start[k] + np.mod(np.arange(j_lo, j_hi + 1, dtype=np.int64), npr[k]))
    if not out:
        return np.empty(0, dtype=np.int64)
    return np.concatenate(out)


def query_disc_nest_np(
    ra0_deg: float, dec0_deg: float, radius_deg: float, nside: int, inclusive: bool = True
) -> np.ndarray:
    """Nested-scheme disc cover for one probe. ``inclusive`` pads the radius
    by a per-nside bound on the pixel circumradius, so every pixel that
    *intersects* the disc has its center inside the padded disc — the
    superset contract the cross-match post-filter assumes (reference
    query_disc(inclusive=True), astrometry.py:165)."""
    pad = math.radians(1.3 * 58.6323 / nside) if inclusive else 0.0
    ring_ids = _query_disc_ring_np(ra0_deg, dec0_deg, math.radians(radius_deg) + pad, nside)
    return np.sort(_ring2nest_np(ring_ids, nside))


def query_disc_nest_many_np(
    ra0_deg: np.ndarray,
    dec0_deg: np.ndarray,
    radius_deg: float,
    nside: int,
    inclusive: bool = True,
) -> list[np.ndarray]:
    """Batched :func:`query_disc_nest_np`: nested disc covers for a whole
    probe ARRAY in flat numpy — no per-probe Python loop.

    Same ring-walk mathematics, evaluated over the flattened
    (probe, ring) pair table (two repeat/cumsum expansions: probes→rings,
    rings→pixels), then ONE `_ring2nest_np` over all pixels and a lexsort
    split back to per-probe arrays. Per-probe cost collapses from ~0.6 ms
    (scalar walk + per-probe sort) to ~5 µs at nside 32; the pandas-UDF
    disc-cover stage this feeds was the whole runtime of the polar
    cross-match (guide §4.2 — batch work belongs in vectorized numpy).

    All float steps are the same IEEE double ops as the scalar path;
    vectorized libm may differ from scalar libm by an ulp on cos/arccos,
    which can flip a pixel whose CENTER sits exactly on the padded-disc
    boundary — inside the 1.3× circumradius pad, so the cover stays a
    superset of disc-intersecting pixels either way and the exact
    post-filter output is unchanged (tests pin batch ≡ scalar on polar +
    random probes).
    """
    ra0 = np.asarray(ra0_deg, dtype=np.float64)
    dec0 = np.asarray(dec0_deg, dtype=np.float64)
    n = ra0.shape[0]
    if n == 0:
        return []
    pad = math.radians(1.3 * 58.6323 / nside) if inclusive else 0.0
    r = min(math.radians(radius_deg) + pad, math.pi)

    theta0 = np.radians(90.0 - dec0)
    phi0 = np.radians(np.mod(ra0, 360.0))
    z0 = np.cos(theta0)
    sth0 = np.sin(theta0)
    zmax = np.where(theta0 - r > 0, np.cos(theta0 - r), 1.0)
    zmin = np.where(theta0 + r < math.pi, np.cos(theta0 + r), -1.0)

    def ring_coord(z: np.ndarray) -> np.ndarray:
        return np.where(
            z > 2.0 / 3.0,
            nside * np.sqrt(np.maximum(3.0 * (1.0 - z), 0.0)),
            np.where(
                z >= -2.0 / 3.0,
                nside * (2.0 - 1.5 * z),
                4 * nside - nside * np.sqrt(np.maximum(3.0 * (1.0 + z), 0.0)),
            ),
        )

    i1 = np.maximum(1, np.floor(ring_coord(zmax)).astype(np.int64))
    i2 = np.minimum(4 * nside - 1, np.ceil(ring_coord(zmin)).astype(np.int64))
    counts = np.maximum(i2 - i1 + 1, 0)

    # (probe, ring) expansion
    pidx = np.repeat(np.arange(n, dtype=np.int64), counts)
    if pidx.size == 0:
        return [np.empty(0, dtype=np.int64) for _ in range(n)]
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    intra = np.arange(pidx.size, dtype=np.int64) - np.repeat(starts, counts)
    rings = np.repeat(i1, counts) + intra

    north = rings < nside
    south = rings > 3 * nside
    eq = ~(north | south)
    z = np.empty(rings.shape, dtype=np.float64)
    z[north] = 1.0 - (rings[north] ** 2) / (3.0 * nside * nside)
    z[eq] = (2 * nside - rings[eq]) * 2.0 / (3.0 * nside)
    z[south] = ((4 * nside - rings[south]) ** 2) / (3.0 * nside * nside) - 1.0

    nr = np.where(north, rings, np.where(south, 4 * nside - rings, nside))
    npr = np.where(eq, 4 * nside, 4 * nr)
    kshift = np.where(eq, (rings - nside) & 1, 0)
    f = (1.0 - kshift) * 0.5
    npix = 12 * nside * nside
    ncap = 2 * nside * (nside - 1)
    start = np.where(
        north,
        2 * nr * (nr - 1),
        np.where(
            south,
            npix - 2 * nr * (nr + 1),
            ncap + (rings - nside) * 4 * nside,
        ),
    )

    z0r = z0[pidx]
    sth0r = sth0[pidx]
    phi0r = phi0[pidx]
    sth = np.sqrt(np.maximum(0.0, 1.0 - z * z))
    num = math.cos(r) - z * z0r
    den = sth * sth0r
    with np.errstate(divide="ignore", invalid="ignore"):
        cosdphi = np.where(den > 0, num / den, np.where(num <= 0, -1.0, 1.0))
    dphi = np.arccos(np.clip(cosdphi, -1.0, 1.0))

    valid = ~((cosdphi > 1.0 - 1e-15) & (den == 0.0))
    delta = 2.0 * math.pi / npr
    j_lo = np.ceil((phi0r - dphi) / delta - f).astype(np.int64)
    j_hi = np.floor((phi0r + dphi) / delta - f).astype(np.int64)
    valid &= j_hi >= j_lo
    full = (j_hi - j_lo + 1) >= npr

    pidx_v = pidx[valid]
    start_v = start[valid]
    npr_v = npr[valid]
    jstart_v = np.where(full[valid], 0, j_lo[valid])
    cnt2 = np.where(full[valid], npr_v, j_hi[valid] - j_lo[valid] + 1)

    # (probe-ring, pixel) expansion
    starts2 = np.concatenate(([0], np.cumsum(cnt2)[:-1]))
    total2 = int(cnt2.sum())
    intra2 = np.arange(total2, dtype=np.int64) - np.repeat(starts2, cnt2)
    ring_pix = np.repeat(start_v, cnt2) + np.mod(
        np.repeat(jstart_v, cnt2) + intra2, np.repeat(npr_v, cnt2)
    )
    pix_probe = np.repeat(pidx_v, cnt2)
    nest = _ring2nest_np(ring_pix, nside)

    # per-probe ascending nested ids (the scalar path's np.sort contract)
    order2 = np.lexsort((nest, pix_probe))
    nest_sorted = nest[order2]
    lengths = np.bincount(pix_probe, minlength=n).astype(np.int64)
    bounds = np.cumsum(lengths)[:-1]
    return np.split(nest_sorted, bounds)


def healpix_disc_cover(ra: Column, dec: Column, radius_deg: float, order: int) -> Column:
    """Superset disc cover in nested HEALPix ids, pandas UDF → array<long>.

    Ring-arithmetic query_disc (no point sampling): walk the rings
    intersecting the disc's z-range and solve each ring's φ interval in
    closed form, then convert RING→NESTED. Exact center-in-padded-disc
    cover, O(rings + output) per probe — mirrors
    query_disc(inclusive=True) at reference astrometry.py:158-182.
    Batched across the whole Arrow batch (`query_disc_nest_many_np`) —
    no per-probe Python loop.
    """
    nside = 1 << order

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(ra_s: pd.Series, dec_s: pd.Series) -> pd.Series:
        covers = query_disc_nest_many_np(
            ra_s.to_numpy(dtype=np.float64),
            dec_s.to_numpy(dtype=np.float64),
            radius_deg,
            nside,
        )
        return pd.Series(covers)

    return _udf(ra, dec)


from hiss_cube_spark._serde import register_self as _register_self  # noqa: E402

_register_self(__name__)


def zorder_key(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton/Z-order interleave of two non-negative ints — native exprs.

    The multi-dimensional clustering key for bronze layout: sorting by
    ``zorder_key(healpix_low_bits, time_bucket)`` keeps both dimensions
    local within parquet row groups (min/max pruning on either predicate),
    the distributed analog of the reference's (spatial, time) index sort
    (metadata_strategy_image.py:351-355).
    """
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = (
            out
            + F.shiftleft(F.shiftrightunsigned(a.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftrightunsigned(b.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return out
