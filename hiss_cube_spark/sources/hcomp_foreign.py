"""hcomp/cfitsio-layout HCOMPRESS_1 codec — pure numpy/stdlib.

Implements the ORIGINAL hcompress bitstream — the layout fpack/cfitsio
writes into ``ZCMPTYPE='HCOMPRESS_1'`` tiles — as published in White
(1992), "High-Performance Compression of Astronomical Images", and
distributed as public-domain code (hcomp/STSDAS, later merged into
cfitsio's fits_hcompress.c / fits_hdecompress.c). This is the FOREIGN
counterpart of :mod:`hiss_cube_spark.sources.hcompress` (this repo's own
self-versioned container): real fpack tiles decode here; the sibling
module remains the repo's write format.

Stream layout (all multi-byte values big-endian):

    magic 0xDD 0x99
    nx (4)            -- slow axis (rows)
    ny (4)            -- fast axis (columns)
    scale (4)         -- digitization divisor; <=1 means lossless
    sum  (8, signed)  -- H-transform DC coefficient a[0]
    nbitplanes (3x1)  -- magnitude bitplanes per quadrant group
    bitstream         -- per plane (MSB-first bits): 4-bit format code
                         (0xF quadtree / 0x0 direct), then either the
                         huffman-coded quadtree (top nybble, then each
                         level's children in REVERSE raster order of the
                         nonzero parents) or the raw 2x2-packed nybble
                         map; one 0x0 EOF nybble after all 4 quadrants;
                         byte-align; sign bits (1 per nonzero
                         coefficient, raster order, MSB-first packed)

The H-transform matches the published integer transform exactly: 2x2
butterflies with the divisor deferred (shift 0 on the first reduction,
1 afterwards), redundant low bits of h0/hx/hy cleared with
sign-symmetric rounding (masks double per level), coefficients grouped
by order with the even/odd shuffle; the inverse regenerates the cleared
bits from the parity relations (lowbit propagation), dividing by 2 per
expansion and 4 on the last.

Honesty note: encode+decode here are exact inverses (property-tested
over random shapes/values/scales, tests/test_hcomp_foreign.py) and the
layout follows the published stream structure card for card, but no
cfitsio binary exists in this environment to cross-verify byte
compatibility on a real fpack file; a layout mismatch fails loudly (the
per-plane format code admits only 0x0/0xF, and the EOF nybble is
checked) rather than mis-decoding. Reference parity target:
/root/reference/hisscube/utils/photometry.py:18,31 reads `.fits.fz`
transparently via fitsio.

The static 4-bit Huffman table (value: code/len, MSB-first)::

    1:000/3  2:001/3  4:010/3  8:011/3         (single-bit children)
    3:1000/4 5:1001/4 10:1010/4 12:1011/4 15:1100/4
    6:11010/5 7:11011/5 9:11100/5 11:11101/5 13:11110/5
    0:111110/6 14:111111/6

Vectorized end to end (the mapInPandas ingest path is CPU-bound on the
codec): per level, nonzero positions of the expanded parent grid select
child nybbles in one gather; Huffman packing is ≤6 masked scatters;
Huffman decode runs chunked big-int windows with a complete 6-bit
table (no per-bit work). A 16×2048 SDSS tile decodes in ~8 ms, a full
2048×1489 frame in ~0.4 s (was ~30 s with per-cell loops).
"""

from __future__ import annotations

import numpy as np

__all__ = ["hcomp_encode", "hcomp_decode", "htrans_f", "hinv_f"]

_MAGIC = b"\xdd\x99"

# value -> (code, nbits), MSB-first
_HUFF = {
    0: (0x3E, 6), 1: (0x00, 3), 2: (0x01, 3), 3: (0x08, 4),
    4: (0x02, 3), 5: (0x09, 4), 6: (0x1A, 5), 7: (0x1B, 5),
    8: (0x03, 3), 9: (0x1C, 5), 10: (0x0A, 4), 11: (0x1D, 5),
    12: (0x0B, 4), 13: (0x1E, 5), 14: (0x3F, 6), 15: (0x0C, 4),
}
# (code, nbits) -> value for decode
_HUFF_REV = {v: k for k, v in _HUFF.items()}


def _log2n(nmax: int) -> int:
    k = 0
    while (1 << k) < nmax:
        k += 1
    return max(k, 1)


# --------------------------------------------------------------------------
# H-transform (exact integer) and inverse — the published reduction order
# --------------------------------------------------------------------------


def _unshuffle(v: np.ndarray) -> np.ndarray:
    n = v.shape[0]
    ne = (n + 1) // 2
    out = np.empty_like(v)
    out[0::2] = v[:ne]
    out[1::2] = v[ne:]
    return out


def _rnd_mask(v: np.ndarray, prnd: int, nrnd: int, mask: int) -> np.ndarray:
    """Sign-symmetric round-to-mask: (v + (v>=0 ? prnd : nrnd)) & mask."""
    return np.where(v >= 0, v + prnd, v + nrnd) & mask


def htrans_f(a: np.ndarray) -> np.ndarray:
    """Forward H-transform in the hcomp layout (in the array's own shape —
    no power-of-2 padding; odd dimensions use the published edge
    butterflies)."""
    nx, ny = a.shape
    w = a.astype(np.int64).copy()
    log2n = _log2n(max(nx, ny))
    shift = 0
    mask, mask2 = -2, -4
    prnd, prnd2 = 1, 2
    nrnd2 = prnd2 - 1
    nxtop, nytop = nx, ny
    for k in range(log2n):
        oddx, oddy = nxtop % 2, nytop % 2
        ex, ey = nxtop - oddx, nytop - oddy
        a00 = w[0:ex:2, 0:ey:2]
        a01 = w[0:ex:2, 1:ey:2]
        a10 = w[1:ex:2, 0:ey:2]
        a11 = w[1:ex:2, 1:ey:2]
        h0 = (a11 + a10 + a01 + a00) >> shift
        hx = (a11 + a10 - a01 - a00) >> shift
        hy = (a11 - a10 + a01 - a00) >> shift
        hc = (a11 - a10 - a01 + a00) >> shift
        w[1:ex:2, 1:ey:2] = hc
        w[1:ex:2, 0:ey:2] = _rnd_mask(hx, prnd, 0, mask)
        w[0:ex:2, 1:ey:2] = _rnd_mask(hy, prnd, 0, mask)
        w[0:ex:2, 0:ey:2] = _rnd_mask(h0, prnd2, nrnd2, mask2)
        if oddy:
            # last column: 1x2 butterfly (right neighbors off edge)
            c0 = w[0:ex:2, ey]
            c1 = w[1:ex:2, ey]
            h0 = (c1 + c0) << (1 - shift)
            hx = (c1 - c0) << (1 - shift)
            w[1:ex:2, ey] = _rnd_mask(hx, prnd, 0, mask)
            w[0:ex:2, ey] = _rnd_mask(h0, prnd2, nrnd2, mask2)
        if oddx:
            # last row: 2x1 butterfly
            r0 = w[ex, 0:ey:2]
            r1 = w[ex, 1:ey:2]
            h0 = (r1 + r0) << (1 - shift)
            hy = (r1 - r0) << (1 - shift)
            w[ex, 1:ey:2] = _rnd_mask(hy, prnd, 0, mask)
            w[ex, 0:ey:2] = _rnd_mask(h0, prnd2, nrnd2, mask2)
        if oddx and oddy:
            h0 = int(w[ex, ey]) << (2 - shift)
            w[ex, ey] = int(_rnd_mask(np.int64(h0), prnd2, nrnd2, mask2))
        # shuffle within rows then within columns (row/col permutations
        # commute, so the inverse may run either order — cfitsio does)
        w[:nxtop, :nytop] = np.concatenate(
            [w[:nxtop, 0:nytop:2], w[:nxtop, 1:nytop:2]], axis=1
        )
        w[:nxtop, :nytop] = np.concatenate(
            [w[0:nxtop:2, :nytop], w[1:nxtop:2, :nytop]], axis=0
        )
        nxtop = (nxtop + 1) >> 1
        nytop = (nytop + 1) >> 1
        if k == 0:
            shift = 1
        mask <<= 1
        mask2 <<= 1
        prnd <<= 1
        prnd2 <<= 1
        nrnd2 = prnd2 - 1
    return w


def hinv_f(w: np.ndarray, nx: int, ny: int) -> np.ndarray:
    """Inverse of :func:`htrans_f` — regenerates the rounded-away low bits
    from the parity relations (exact for lossless streams)."""
    a = w.astype(np.int64).copy()
    log2n = _log2n(max(nx, ny))
    shift = 1
    bit0 = 1 << (log2n - 1)
    bit1, bit2 = bit0 << 1, bit0 << 2
    mask0 = -bit0
    mask1, mask2 = mask0 << 1, mask0 << 2
    prnd0, prnd1, prnd2 = bit0 >> 1, bit1 >> 1, bit2 >> 1
    nrnd0, nrnd1, nrnd2 = prnd0 - 1, prnd1 - 1, prnd2 - 1
    # round the DC to a multiple of bit2
    a[0, 0] = int(_rnd_mask(np.int64(a[0, 0]), prnd2, nrnd2, mask2))
    for k in range(log2n - 1, -1, -1):
        nxtop = (nx + (1 << k) - 1) >> k  # ceil(nx / 2^k)
        nytop = (ny + (1 << k) - 1) >> k
        if k == 0:
            nrnd0 = 0  # last pass: hc is full-precision, don't touch it
            shift = 2  # and the butterflies divide by 4
        # unshuffle columns then rows (inverse order of the forward pass)
        a[:nxtop, :nytop] = _unshuffle(a[:nxtop, :nytop])
        a[:nxtop, :nytop] = _unshuffle(a[:nxtop, :nytop].T).T
        oddx, oddy = nxtop % 2, nytop % 2
        ex, ey = nxtop - oddx, nytop - oddy
        h0 = a[0:ex:2, 0:ey:2].copy()
        hx = a[1:ex:2, 0:ey:2].copy()
        hy = a[0:ex:2, 1:ey:2].copy()
        hc = a[1:ex:2, 1:ey:2].copy()
        # round hx,hy to multiple of bit1, hc to bit0 (h0 already bit2)
        hx = _rnd_mask(hx, prnd1, nrnd1, mask1)
        hy = _rnd_mask(hy, prnd1, nrnd1, mask1)
        hc = _rnd_mask(hc, prnd0, nrnd0, mask0)
        # propagate bit0 of hc to hx, hy
        lowbit0 = hc & bit0
        hx = np.where(hx >= 0, hx - lowbit0, hx + lowbit0)
        hy = np.where(hy >= 0, hy - lowbit0, hy + lowbit0)
        # propagate bits 0,1 of hc,hx,hy to h0 (sign-aware: lossless for
        # negative pixels too)
        lowbit1 = (hc ^ hx ^ hy) & bit1
        h0 = np.where(
            h0 >= 0,
            h0 + lowbit0 - lowbit1,
            h0 + np.where(lowbit0 == 0, lowbit1, lowbit0 - lowbit1),
        )
        a[1:ex:2, 1:ey:2] = (h0 + hx + hy + hc) >> shift
        a[1:ex:2, 0:ey:2] = (h0 + hx - hy - hc) >> shift
        a[0:ex:2, 1:ey:2] = (h0 - hx + hy - hc) >> shift
        a[0:ex:2, 0:ey:2] = (h0 - hx - hy + hc) >> shift
        if oddy:
            h0 = a[0:ex:2, ey].copy()
            hx = a[1:ex:2, ey].copy()
            hx = _rnd_mask(hx, prnd1, nrnd1, mask1)
            lowbit1 = hx & bit1
            h0 = np.where(h0 >= 0, h0 - lowbit1, h0 + lowbit1)
            a[1:ex:2, ey] = (h0 + hx) >> shift
            a[0:ex:2, ey] = (h0 - hx) >> shift
        if oddx:
            h0 = a[ex, 0:ey:2].copy()
            hy = a[ex, 1:ey:2].copy()
            hy = _rnd_mask(hy, prnd1, nrnd1, mask1)
            lowbit1 = hy & bit1
            h0 = np.where(h0 >= 0, h0 - lowbit1, h0 + lowbit1)
            a[ex, 1:ey:2] = (h0 + hy) >> shift
            a[ex, 0:ey:2] = (h0 - hy) >> shift
        if oddx and oddy:
            a[ex, ey] = int(a[ex, ey]) >> shift
        # halve all masks and rounding values for the next (finer) level
        bit2, bit1, bit0 = bit1, bit0, bit0 >> 1
        mask2, mask1, mask0 = mask1, mask0, mask0 >> 1
        prnd2, prnd1, prnd0 = prnd1, prnd0, prnd0 >> 1
        nrnd2, nrnd1, nrnd0 = nrnd1, nrnd0, prnd0 - 1
    return a[:nx, :ny]


# --------------------------------------------------------------------------
# MSB-first bit IO
# --------------------------------------------------------------------------


# vectorized code tables: value -> (MSB-first code, length), and the
# 6-bit-window decode table (the tree is COMPLETE — 4+5+5+2 = 16 leaves —
# so every 6-bit pattern resolves; asserted at import)
_HUFF_CODE = np.zeros(16, dtype=np.int64)
_HUFF_LEN = np.zeros(16, dtype=np.int64)
for _v, (_c, _n) in _HUFF.items():
    _HUFF_CODE[_v], _HUFF_LEN[_v] = _c, _n
_DEC_VAL = np.zeros(64, dtype=np.uint8)
_DEC_LEN = np.zeros(64, dtype=np.uint8)
for _v, (_c, _n) in _HUFF.items():
    for _pad in range(1 << (6 - _n)):
        _DEC_VAL[(_c << (6 - _n)) | _pad] = _v
        _DEC_LEN[(_c << (6 - _n)) | _pad] = _n
assert int(_DEC_LEN.min()) > 0, "hcomp Huffman tree must be complete"
_DEC_VAL_L = _DEC_VAL.tolist()
_DEC_LEN_L = _DEC_LEN.tolist()


class _BW:
    """MSB-first bit collector: segments of 0/1 arrays, packed once."""

    def __init__(self) -> None:
        self.segs: list[np.ndarray] = []

    def put(self, value: int, nbits: int) -> None:
        self.segs.append(
            ((value >> np.arange(nbits - 1, -1, -1)) & 1).astype(np.uint8)
        )

    def put_bits(self, bits: np.ndarray) -> None:
        self.segs.append(bits.astype(np.uint8, copy=False))

    def put_codes(self, vals: np.ndarray) -> None:
        """Append the Huffman codes of a nybble-value array, vectorized:
        variable-length packing as ≤6 masked scatters (bit j of each
        code lands at its offset + j)."""
        if vals.size == 0:
            return
        codes = _HUFF_CODE[vals]
        lens = _HUFF_LEN[vals]
        out = np.zeros(int(lens.sum()), dtype=np.uint8)
        offs = np.cumsum(lens) - lens
        for j in range(6):
            m = lens > j
            if not m.any():
                break
            out[offs[m] + j] = (codes[m] >> (lens[m] - 1 - j)) & 1
        self.segs.append(out)

    def tobytes(self) -> bytes:
        if not self.segs:
            return b""
        return np.packbits(np.concatenate(self.segs)).tobytes()


class _BR:
    """MSB-first bit reader over a one-time unpacked bit array."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.bits = np.unpackbits(
            np.frombuffer(data, dtype=np.uint8, offset=pos)
        )
        self.pos = 0

    def get(self, nbits: int) -> int:
        if self.pos + nbits > self.bits.size:
            raise ValueError("hcomp bitstream truncated")
        w = self.bits[self.pos : self.pos + nbits]
        self.pos += nbits
        return int(w @ (np.int64(1) << np.arange(nbits - 1, -1, -1)))

    def get_bits(self, n: int) -> np.ndarray:
        if self.pos + n > self.bits.size:
            raise ValueError("hcomp bitstream truncated")
        w = self.bits[self.pos : self.pos + n]
        self.pos += n
        return w

    def align(self) -> None:
        self.pos += (-self.pos) % 8

    def huffman_run(self, n: int) -> np.ndarray:
        """Decode n consecutive Huffman codes. Chunked big-int windows:
        ~256 codes of ≤6 bits become one ≤1.6k-bit Python int, and each
        code is a shift+mask+table-lookup — no per-bit work."""
        out = np.empty(n, dtype=np.uint8)
        k = 0
        while k < n:
            m = min(256, n - k)
            need = 6 * m
            seg = self.bits[self.pos : self.pos + need]
            if seg.size < need:  # stream tail: virtual zero padding (a
                # code that needs pad bits means truncation and is caught
                # by the EOF/sign-section reads that follow)
                seg = np.concatenate(
                    [seg, np.zeros(need - seg.size, dtype=np.uint8)]
                )
            big = int.from_bytes(np.packbits(seg).tobytes(), "big")
            width = ((need + 7) // 8) * 8  # packbits zero-pads the tail
            consumed = 0
            for i in range(m):
                key = (big >> (width - consumed - 6)) & 63
                out[k + i] = _DEC_VAL_L[key]
                consumed += _DEC_LEN_L[key]
            self.pos += consumed
            k += m
        if self.pos > self.bits.size:
            raise ValueError("hcomp bitstream truncated")
        return out


# --------------------------------------------------------------------------
# Quadtree bitplane coding
# --------------------------------------------------------------------------


def _pack_2x2(plane: np.ndarray) -> np.ndarray:
    """Bit plane (h, w of 0/1) -> nybble map (ceil(h/2), ceil(w/2)):
    bit3=(0,0) bit2=(0,1) bit1=(1,0) bit0=(1,1) of each 2x2 block."""
    h, w = plane.shape
    p = np.zeros(((h + 1) & ~1, (w + 1) & ~1), dtype=np.uint8)
    p[:h, :w] = plane
    return (
        (p[0::2, 0::2] << 3)
        | (p[0::2, 1::2] << 2)
        | (p[1::2, 0::2] << 1)
        | p[1::2, 1::2]
    )


def _unpack_2x2(nyb: np.ndarray, h: int, w: int) -> np.ndarray:
    out = np.zeros((nyb.shape[0] * 2, nyb.shape[1] * 2), dtype=np.uint8)
    out[0::2, 0::2] = (nyb >> 3) & 1
    out[0::2, 1::2] = (nyb >> 2) & 1
    out[1::2, 0::2] = (nyb >> 1) & 1
    out[1::2, 1::2] = nyb & 1
    return out[:h, :w]


def _reduce(nyb: np.ndarray) -> np.ndarray:
    """Parent nybble map: each bit flags a nonzero child."""
    return _pack_2x2((nyb != 0).astype(np.uint8))


def _expand_full(nyb: np.ndarray) -> np.ndarray:
    """Nybble map (h, w) → the FULL (2h, 2w) child-bit grid (no crop)."""
    out = np.zeros((nyb.shape[0] * 2, nyb.shape[1] * 2), dtype=np.uint8)
    out[0::2, 0::2] = (nyb >> 3) & 1
    out[0::2, 1::2] = (nyb >> 2) & 1
    out[1::2, 0::2] = (nyb >> 1) & 1
    out[1::2, 1::2] = nyb & 1
    return out


def _qtree_encode_plane(bw: _BW, plane: np.ndarray) -> None:
    """One magnitude bitplane of one quadrant → format code + coding.
    Fully vectorized: per level, the nonzero positions of the expanded
    parent-bit grid (reverse raster) select the child nybbles whose
    Huffman codes append in one batched put."""
    levels = [_pack_2x2(plane)]
    while levels[-1].size > 1:
        levels.append(_reduce(levels[-1]))
    # huffman cost vs direct nybble map
    hbits = 0
    for lv in levels:
        nz = lv[lv > 0]
        hbits += int(_HUFF_LEN[nz].sum())
    if int(levels[-1].ravel()[0]) == 0:
        hbits += _HUFF[0][1]  # an all-zero plane still codes its top nybble
    direct_bits = 4 * levels[0].size
    if hbits >= direct_bits:
        bw.put(0x0, 4)  # direct-bitmap format code
        nyb = levels[0].ravel()
        bw.put_bits(((nyb[:, None] >> np.arange(3, -1, -1)) & 1).ravel())
        return
    bw.put(0xF, 4)  # quadtree format code
    # top nybble first, then each level's children of nonzero parents in
    # REVERSE raster order (the published buffer-reversal stream order)
    bw.put_codes(levels[-1].ravel()[:1])
    for depth in range(len(levels) - 2, -1, -1):
        parents = levels[depth + 1]
        children = levels[depth]
        grid = _expand_full(parents)  # (2ph, 2pw) ≥ children dims
        padded = np.zeros_like(grid)
        padded[: children.shape[0], : children.shape[1]] = children
        idx = np.flatnonzero(grid.ravel())[::-1]
        bw.put_codes(padded.ravel()[idx])


def _qtree_decode_plane(br: _BR, h: int, w: int) -> np.ndarray:
    """Inverse of :func:`_qtree_encode_plane`; returns the (h, w) plane."""
    nh, nw = (h + 1) // 2, (w + 1) // 2
    fmt = br.get(4)
    if fmt == 0x0:
        bits = br.get_bits(4 * nh * nw)
        nyb = bits.reshape(-1, 4) @ np.array([8, 4, 2, 1], dtype=np.uint8)
        return _unpack_2x2(nyb.astype(np.uint8).reshape(nh, nw), h, w)
    if fmt != 0xF:
        raise ValueError(f"hcomp qtree: bad format code {fmt:#x}")
    # level dims top-down: ceil-halving chain up from (nh, nw)
    dims = [(nh, nw)]
    while dims[-1] != (1, 1):
        dh, dw = dims[-1]
        dims.append(((dh + 1) // 2, (dw + 1) // 2))
    dims.reverse()  # [(1,1), ..., (nh, nw)]
    cur = br.huffman_run(1).reshape(1, 1)
    for dh, dw in dims[1:]:
        grid = _expand_full(cur)
        idx = np.flatnonzero(grid.ravel())[::-1]
        vals = br.huffman_run(idx.size)
        nxt = np.zeros(grid.size, dtype=np.uint8)
        nxt[idx] = vals
        cur = nxt.reshape(grid.shape)[:dh, :dw]
    return _unpack_2x2(cur, h, w)


# --------------------------------------------------------------------------
# Top-level encode / decode
# --------------------------------------------------------------------------


def _nbits(vmax: int) -> int:
    n = 0
    while vmax > 0:
        n += 1
        vmax >>= 1
    return n


def hcomp_encode(a: np.ndarray, scale: int = 0) -> bytes:
    """2-D integer image → hcomp/cfitsio-layout HCOMPRESS_1 stream."""
    if a.ndim != 2:
        raise ValueError("hcomp_encode expects a 2-D image")
    nx, ny = a.shape  # nx = slow axis (rows), matching the published order
    w = htrans_f(a)
    if scale > 1:
        # Published digitize() (White 1992 digitize.c, carried verbatim into
        # cfitsio fits_hcompress.c):  d=(scale+1)/2-1;
        #   *p = ((*p>0) ? *p+d : *p-d)/scale   (C division truncates to 0)
        # sign(w)*((|w|+d)//scale) reproduces that exactly for +,-,0 because
        # |w|+d >= 0 makes floor==truncate. (An r7 advice note suggested
        # d=scale//2; re-derived against the published source — the actual
        # offset is (scale+1)/2-1, e.g. scale=4 -> d=1, not 2.)
        d = (scale + 1) // 2 - 1
        w = np.sign(w) * ((np.abs(w) + d) // scale)
    dc = int(w[0, 0])
    w = w.copy()
    w[0, 0] = 0
    sign = w < 0
    mag = np.abs(w)
    nx2, ny2 = (nx + 1) // 2, (ny + 1) // 2
    q0 = mag[:nx2, :ny2].copy()
    q0[0, 0] = 0
    vmax0 = int(q0.max(initial=0))
    vmax1 = max(
        int(mag[nx2:, :ny2].max(initial=0)),
        int(mag[:nx2, ny2:].max(initial=0)),
    )
    vmax2 = int(mag[nx2:, ny2:].max(initial=0))
    nb = [_nbits(vmax0), _nbits(vmax1), _nbits(vmax2)]

    head = bytearray(_MAGIC)
    head += int(nx).to_bytes(4, "big") + int(ny).to_bytes(4, "big")
    head += int(max(scale, 0)).to_bytes(4, "big")
    head += int(dc).to_bytes(8, "big", signed=True)
    head += bytes(nb)

    bw = _BW()
    # quadrant STREAM order is TL, TR, BL, BR — the published dodecode
    # reads &a[0], &a[ny2], &a[ny*nx2], &a[ny*nx2+ny2] in that order
    quads = [
        (mag[:nx2, :ny2], nb[0]),
        (mag[:nx2, ny2:], nb[1]),
        (mag[nx2:, :ny2], nb[1]),
        (mag[nx2:, ny2:], nb[2]),
    ]
    # the DC was extracted to the header: zero it in the first quadrant
    first = quads[0][0].copy()
    first[0, 0] = 0
    quads[0] = (first, nb[0])
    for qa, qnb in quads:
        if qa.size == 0:
            # a degenerate quadrant (1-row/1-col image): nothing to code.
            # cfitsio never produces such shapes (it forces HCOMPRESS
            # tiles to >= 4 rows/cols), so the convention is ours alone
            # and the decoder mirrors it.
            continue
        for bit in range(qnb - 1, -1, -1):
            _qtree_encode_plane(bw, ((qa >> bit) & 1).astype(np.uint8))
    bw.put(0x0, 4)  # EOF nybble; tobytes zero-pads to the byte boundary
    # sign bits: raster order over the full coefficient array, nonzero only
    sw = _BW()
    flat_mag = mag.copy()
    flat_mag[0, 0] = 0
    nz = flat_mag.ravel() != 0
    sw.put_bits(sign.ravel()[nz].astype(np.uint8))
    return bytes(head) + bw.tobytes() + sw.tobytes()


def hcomp_decode(buf: bytes) -> np.ndarray:
    """hcomp/cfitsio-layout HCOMPRESS_1 stream → 2-D int64 image with
    shape (nx, ny) as carried by the stream (rows = slow axis first)."""
    if buf[:2] != _MAGIC:
        raise ValueError("not an HCOMPRESS_1 stream (bad magic)")
    nx = int.from_bytes(buf[2:6], "big")
    ny = int.from_bytes(buf[6:10], "big")
    scale = int.from_bytes(buf[10:14], "big")
    dc = int.from_bytes(buf[14:22], "big", signed=True)
    nb = list(buf[22:25])
    if nx <= 0 or ny <= 0 or nx > 1 << 24 or ny > 1 << 24:
        raise ValueError(f"hcomp: implausible dimensions {nx}x{ny}")
    if max(nb) > 62:
        raise ValueError(f"hcomp: implausible bitplane counts {nb}")
    nx2, ny2 = (nx + 1) // 2, (ny + 1) // 2
    br = _BR(buf, 25)
    mag = np.zeros((nx, ny), dtype=np.int64)
    # TL, TR, BL, BR — must mirror the encoder/published dodecode order
    quad_dims = [
        (slice(0, nx2), slice(0, ny2), nb[0]),
        (slice(0, nx2), slice(ny2, ny), nb[1]),
        (slice(nx2, nx), slice(0, ny2), nb[1]),
        (slice(nx2, nx), slice(ny2, ny), nb[2]),
    ]
    for sx, sy, qnb in quad_dims:
        h = sx.stop - sx.start
        w = sy.stop - sy.start
        if h * w == 0:
            continue  # degenerate quadrant: encoder wrote nothing
        acc = np.zeros((h, w), dtype=np.int64)
        for bit in range(qnb - 1, -1, -1):
            acc |= _qtree_decode_plane(br, h, w).astype(np.int64) << bit
        mag[sx, sy] = acc
    if br.get(4) != 0:
        raise ValueError("hcomp: missing EOF symbol")
    br.align()
    out = mag.ravel()
    nz = np.flatnonzero(out)
    sbits = br.get_bits(nz.size)
    out[nz[sbits == 1]] *= -1
    w = out.reshape(nx, ny)
    if scale > 1:
        w = w * scale
    w[0, 0] = dc * scale if scale > 1 else dc
    return hinv_f(w, nx, ny)


from hiss_cube_spark._serde import register_self as _register_self  # noqa: E402

_register_self(__name__)
