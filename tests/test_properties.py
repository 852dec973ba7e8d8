"""Property-based tests (hypothesis) for the numeric kernels — the reference
has no randomized testing (SURVEY.md §5); these pin algebraic invariants the
unit suites can't cover exhaustively."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from hiss_cube_spark.functions.compress import float_compress_np
from hiss_cube_spark.functions.pyramid import downsample_image
from hiss_cube_spark.functions.spatial import _ang2pix_nest_np, _interleave_bits
from hiss_cube_spark.operators.ivw import ivw_np
from hiss_cube_spark.sources.fits import parse_fits_header


@given(
    flux=arrays(np.float64, (4, 8), elements=st.floats(-1e6, 1e6)),
    sigma=arrays(np.float64, (4, 8), elements=st.floats(0.01, 1e3)),
)
@settings(max_examples=100, deadline=None)
def test_ivw_mean_bounded_by_observations(flux, sigma):
    """The weighted mean lies within [min, max] of the valid observations and
    the combined sigma never exceeds the smallest input sigma."""
    mean, sig = ivw_np(flux, sigma)
    lo, hi = flux.min(axis=0), flux.max(axis=0)
    ok = np.isfinite(mean)
    assert np.all(mean[ok] >= lo[ok] - 1e-6)
    assert np.all(mean[ok] <= hi[ok] + 1e-6)
    assert np.all(sig[ok] <= sigma.min(axis=0)[ok] + 1e-9)


@given(
    flux=arrays(np.float64, (3, 6), elements=st.floats(-1e3, 1e3)),
    sigma=arrays(np.float64, (3, 6), elements=st.floats(0.01, 10)),
)
@settings(max_examples=50, deadline=None)
def test_ivw_permutation_invariant(flux, sigma):
    """Observation order must not change the result (sum reordering)."""
    m1, s1 = ivw_np(flux, sigma)
    perm = [2, 0, 1]
    m2, s2 = ivw_np(flux[perm], sigma[perm])
    # double sums reorder → agreement to rounding, not bitwise (this is WHY
    # the oracle-parity layer uses decimal-quantized sums)
    np.testing.assert_allclose(m1, m2, rtol=1e-9, atol=1e-12, equal_nan=True)
    np.testing.assert_allclose(s1, s2, rtol=1e-9, atol=1e-12, equal_nan=True)


@given(
    ra=st.floats(0, 360, exclude_max=True),
    dec=st.floats(-89.999, 89.999),
    order=st.integers(0, 14),
)
@settings(max_examples=200, deadline=None)
def test_healpix_hierarchy(ra, dec, order):
    """Nested scheme: the child pixel's id >> 2 is the parent pixel's id."""
    child = _ang2pix_nest_np(np.array([ra]), np.array([dec]), 1 << (order + 1))[0]
    parent = _ang2pix_nest_np(np.array([ra]), np.array([dec]), 1 << order)[0]
    assert child >> 2 == parent


@given(x=st.floats(allow_nan=False, allow_infinity=False, width=32))
@settings(max_examples=200, deadline=None)
def test_float_compress_idempotent_and_bounded(x):
    arr = np.array([x], dtype=np.float32)
    once = float_compress_np(arr)
    twice = float_compress_np(once)
    np.testing.assert_array_equal(once, twice)  # idempotent
    # the <1% relative-error contract holds for NORMAL floats only —
    # subnormals lose mantissa wholesale (reference has the same behavior)
    if np.isfinite(x) and abs(x) >= 1.2e-38:
        assert abs(float(once[0]) - x) <= abs(x) * 0.01


@given(a=st.integers(0, (1 << 31) - 1), b=st.integers(0, (1 << 31) - 1))
@settings(max_examples=200, deadline=None)
def test_interleave_bits_bijective(a, b):
    """Morton interleave must be invertible (no bit collisions)."""
    z = _interleave_bits(np.array([a], dtype=np.int64), np.array([b], dtype=np.int64))[0]
    ra = rb = 0
    for i in range(32):
        ra |= ((z >> (2 * i)) & 1) << i
        rb |= ((z >> (2 * i + 1)) & 1) << i
    assert (ra, rb) == (a, b)


# keywords the parser treats specially: END ends the header, COMMENT and
# HISTORY are commentary cards with no value
_RESERVED_KEYS = ("END", "COMMENT", "HISTORY")


def _header_cards(items) -> bytes:
    """``KEY = value`` cards, then the END card, padded to a 2880-byte block."""
    cards = b""
    for k, v in items:
        cards += f"{k:<8}= {v:>20}".ljust(80).encode()
    cards += "END".ljust(80).encode()
    return cards + b" " * ((-len(cards)) % 2880)


@given(
    keys=st.lists(
        st.text(alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZ", min_size=1, max_size=8)
        .filter(lambda k: k not in _RESERVED_KEYS),
        min_size=1, max_size=10, unique=True,
    ),
    vals=st.lists(st.integers(-10**8, 10**8), min_size=10, max_size=10),
)
@settings(max_examples=50, deadline=None)
def test_fits_header_roundtrip(keys, vals):
    """Any header our card writer emits, our parser reads back."""
    hdr = parse_fits_header(_header_cards(zip(keys, vals)))
    for k, v in zip(keys, vals):
        assert hdr[k] == v


def test_fits_header_stops_at_end_card():
    """``END`` ends the header even mid-block: cards after it are not read,
    and ``COMMENT``/``HISTORY`` cards carry no value."""
    hdr = parse_fits_header(
        _header_cards([("A", 1), ("COMMENT", 2), ("HISTORY", 3), ("END", 4), ("B", 5)])
    )
    assert hdr == {"A": 1}


@given(
    order=st.integers(min_value=0, max_value=13),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_healpix_pix2ang_roundtrip(order, seed):
    """pix2ang is a true inverse: every pixel center maps back to its own
    pixel (checked for random sky points at every order 0-13)."""
    from hiss_cube_spark.functions.spatial import _ang2pix_nest_np, _pix2ang_nest_np

    nside = 1 << order
    rng = np.random.default_rng(seed)
    ra = rng.uniform(0, 360, 200)
    dec = np.degrees(np.arcsin(rng.uniform(-1, 1, 200)))
    p = _ang2pix_nest_np(ra, dec, nside)
    rc, dc = _pix2ang_nest_np(p, nside)
    assert np.array_equal(_ang2pix_nest_np(rc, dc, nside), p)
    assert np.all((rc >= 0) & (rc < 360)) and np.all((dc >= -90) & (dc <= 90))


@given(
    order=st.integers(min_value=2, max_value=6),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_ring2nest_matches_pixel_centers(order, seed):
    """RING→NESTED relabeling preserves pixel identity: the converted id's
    center (via nested pix2ang) maps back to itself under nested ang2pix,
    and unique ring ids stay unique."""
    from hiss_cube_spark.functions.spatial import _pix2ang_nest_np, _ring2nest_np

    nside = 1 << order
    npix = 12 * nside * nside
    rng = np.random.default_rng(seed)
    ring = np.unique(rng.integers(0, npix, size=min(npix, 500)))
    nest = _ring2nest_np(ring, nside)
    assert len(np.unique(nest)) == len(ring)
    assert nest.min() >= 0 and nest.max() < npix
    cra, cdec = _pix2ang_nest_np(nest, nside)
    assert np.array_equal(_ang2pix_nest_np(cra, cdec, nside), nest)


@given(
    order=st.integers(min_value=2, max_value=6),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_query_disc_equals_bruteforce_center_cover(order, seed):
    """The ring-walk query_disc returns EXACTLY the pixels whose centers lie
    in the padded disc — same set a brute-force scan over all npix centers
    produces (superset contract of the cross-match prefilter, SURVEY.md J2)."""
    import math

    from hiss_cube_spark.functions.spatial import _pix2ang_nest_np, query_disc_nest_np

    nside = 1 << order
    rng = np.random.default_rng(seed)
    ra0 = float(rng.uniform(0, 360))
    dec0 = float(np.degrees(np.arcsin(rng.uniform(-1, 1))))
    radius = float(rng.uniform(0.05, 30.0))
    got = query_disc_nest_np(ra0, dec0, radius, nside, inclusive=True)

    ids = np.arange(12 * nside * nside, dtype=np.int64)
    cra, cdec = _pix2ang_nest_np(ids, nside)
    sd = np.sin(np.radians((cdec - dec0) / 2))
    sr = np.sin(np.radians((cra - ra0) / 2))
    h = sd * sd + math.cos(math.radians(dec0)) * np.cos(np.radians(cdec)) * sr * sr
    dist = 2 * np.arcsin(np.sqrt(np.clip(h, 0, 1)))
    pad = math.radians(1.3 * 58.6323 / nside)
    want = ids[dist <= math.radians(radius) + pad]
    assert np.array_equal(got, want)


def test_canonicalize_urls_idempotent(spark):
    """Canonicalization is a projection: applying it to its own output is
    the identity (the property that makes incremental URL dedup sound)."""
    from pyspark.sql import functions as F

    from hiss_cube_spark.operators.curation import canonicalize_urls

    urls = [
        "HTTPS://WWW.A.Example.COM/p/1/?utm_x=1&b=2&a=1#f",
        "https://a.example.com/p/1?a=1&b=2",
        "http://www.b.org/Path/Deep?z=1&y=2&utm_source=x",
        "https://c.net",
        "https://c.net/?utm_only=1",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "doc_id long, url string")
    once = canonicalize_urls(df).select("doc_id", F.col("canonical_url").alias("url"))
    twice = canonicalize_urls(once)
    rows = {r["doc_id"]: (r["url"], r["canonical_url"]) for r in twice.collect()}
    for i, (u1, u2) in rows.items():
        assert u1 == u2, (i, u1, u2)


def test_pack_atomic_invariants_random(spark):
    """Property: every non-oversize document ends within capacity, bins
    are contiguous from 0 per shard, and total tokens are conserved."""
    import numpy as np
    from pyspark.sql import functions as F

    from hiss_cube_spark.operators.curation import pack_atomic

    rng = np.random.default_rng(13)
    rows = [
        (i, f"s{i % 3}", " ".join(["w"] * int(rng.integers(1, 200))))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = pack_atomic(df, capacity=128).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
        if r["n_tokens"] <= 128:
            assert r["offset"] + r["n_tokens"] <= 128
    for shard, rs in by_shard.items():
        bins = sorted({r["bin_id"] for r in rs})
        assert bins == list(range(len(bins)))  # contiguous from 0
    total_in = sum(len(t.split()) for _, _, t in rows)
    assert sum(r["n_tokens"] for r in out) == total_in


@given(
    arr=arrays(
        np.int64,
        st.tuples(st.integers(1, 12), st.integers(1, 12)),
        elements=st.integers(-(2**20), 2**20),
    )
)
@settings(max_examples=60, deadline=None)
def test_hcompress_roundtrip_property(arr):
    """HCOMPRESS_1 lossless mode is exactly invertible for any 2-D int
    image (shape, sign, magnitude)."""
    from hiss_cube_spark.sources.hcompress import hcompress, hdecompress

    np.testing.assert_array_equal(hdecompress(hcompress(arr)), arr)


@given(
    arr=arrays(
        np.int64,
        st.integers(0, 400),
        elements=st.integers(0, 2**27 - 1),
    )
)
@settings(max_examples=60, deadline=None)
def test_plio_roundtrip_property(arr):
    """PLIO_1 line lists reproduce any non-negative 1-D mask exactly."""
    from hiss_cube_spark.sources.plio import plio_decode, plio_encode

    np.testing.assert_array_equal(plio_decode(plio_encode(arr)), arr)


@given(
    img=arrays(
        np.uint8,
        st.tuples(st.integers(1, 10), st.integers(1, 10), st.sampled_from([1, 2, 3, 4])),
        elements=st.integers(0, 255),
    ),
    interlace=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_property(img, interlace):
    """PNG encode->decode is the identity for every channel count and
    both interlace modes (the filters/unpack/Adam7 paths are lossless)."""
    from hiss_cube_spark.operators.multimodal import decode_png_np, encode_png_np

    np.testing.assert_array_equal(
        decode_png_np(encode_png_np(img, interlace=interlace)), img
    )
