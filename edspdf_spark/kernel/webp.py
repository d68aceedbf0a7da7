"""VP8L (lossless WebP) codec — pure stdlib + NumPy, no imaging library.

Why this exists: after native PNG and baseline+progressive JPEG
(``kernel/jpeg.py``), WebP is the next media format a web crawl hits in
volume, and the multimodal decode stage routed ALL of it through an
import-gated PIL path (absent in this sandbox → typed-null pixels).
This module implements the LOSSLESS half of the public WebP container
format (RIFF + VP8L bitstream, RFC 9649 / the published "WebP Lossless
Bitstream Specification"): lossy VP8 needs the boolean arithmetic coder
and loop filter and stays PIL-gated, declared in
``functions/multimodal.decode_image_pixels``.

Decoder scope (``decode_webp``): the full VP8L feature set —

* LSB-first bit reading (VP8L's order; JPEG's reader is MSB-first);
* all four transforms (predictor with all 14 modes, cross-color,
  subtract-green, color-indexing with ≤16-color pixel bundling), applied
  in reverse read order;
* canonical prefix codes, both "simple" (1-2 symbol) and normal form
  (code-length codes in the spec's reordered alphabet, repeat codes
  16/17/18, optional max-symbol limit);
* meta-prefix images (per-block code groups), color cache (hash
  0x1e35a7bd), and LZ77 backward references with the 120-entry
  close-neighbor distance mapping.

Hostile input never escapes ``ValueError``: dimension/pixel-count caps,
Kraft-inequality validation on every prefix code, distance/length bounds
on every copy, and a bit reader that raises at EOF instead of wrapping.

Encoder scope (``encode_webp_lossless``): deterministic fixtures —
literal + LZ77 coding with real canonical prefix codes (histogram →
length-limited code → code-length-coded header), optional
subtract-green, optional palette (bundled when ≤16 colors), optional
color cache. The encoder exists so round-trip tests cover every decoder
branch with self-contained files; it is NOT a compression-ratio
contender.

No counterpart exists in the reference (it has no image codecs); cited
for parity only at the routing layer (``functions/multimodal.py``).
"""

from __future__ import annotations

import struct
from typing import List, Optional, Tuple

import numpy as np

MAX_DIM = 16384  # 14-bit fields can't exceed this anyway
MAX_PIXELS = 1 << 24  # hostile-header cap before any allocation

# --------------------------------------------------------------------------
# container

def is_webp(data: bytes) -> bool:
    return len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"WEBP"


def webp_chunks(data: bytes) -> List[Tuple[bytes, bytes]]:
    """RIFF chunk walk: ``[(fourcc, payload), ...]`` (even-padded)."""
    if not is_webp(data):
        raise ValueError("not a WebP file")
    out = []
    pos = 12
    n = len(data)
    while pos + 8 <= n:
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated WebP chunk")
        out.append((tag, body))
        pos += 8 + size + (size & 1)
    return out


# --------------------------------------------------------------------------
# bit IO (LSB-first, per VP8L)

class _BitReader:
    __slots__ = ("data", "pos", "bitpos", "n")

    def __init__(self, data: bytes):
        self.data = data
        self.n = len(data)
        self.pos = 0
        self.bitpos = 0

    def read_bits(self, k: int) -> int:
        v = 0
        for i in range(k):
            if self.pos >= self.n:
                raise ValueError("VP8L bitstream truncated")
            bit = (self.data[self.pos] >> self.bitpos) & 1
            v |= bit << i
            self.bitpos += 1
            if self.bitpos == 8:
                self.bitpos = 0
                self.pos += 1
        return v

    def read_bit(self) -> int:
        return self.read_bits(1)


class _BitWriter:
    __slots__ = ("out", "cur", "bitpos")

    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.bitpos = 0

    def write_bits(self, v: int, k: int) -> None:
        for i in range(k):
            self.cur |= ((v >> i) & 1) << self.bitpos
            self.bitpos += 1
            if self.bitpos == 8:
                self.out.append(self.cur)
                self.cur = 0
                self.bitpos = 0

    def flush(self) -> bytes:
        if self.bitpos:
            self.out.append(self.cur)
            self.cur = 0
            self.bitpos = 0
        return bytes(self.out)


# --------------------------------------------------------------------------
# canonical prefix codes

_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16]


def _canonical_codes(lengths: List[int]) -> dict:
    """lengths → {(code, length): symbol}, canonical (DEFLATE numbering:
    shorter codes first, ties by symbol). Validates the Kraft sum."""
    maxlen = max(lengths, default=0)
    if maxlen == 0:
        raise ValueError("empty prefix code")
    bl_count = [0] * (maxlen + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    kraft = sum(c << (maxlen - ln) for ln, c in enumerate(bl_count) if ln)
    if kraft > (1 << maxlen):
        raise ValueError("over-subscribed prefix code")
    code = 0
    next_code = [0] * (maxlen + 1)
    for ln in range(1, maxlen + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    table = {}
    for sym, ln in enumerate(lengths):
        if ln:
            table[(next_code[ln], ln)] = sym
            next_code[ln] += 1
    return table


class _Prefix:
    """Decodable prefix code: either a trivial 0-bit single symbol or a
    canonical table read MSB-first (VP8L prefix codes are walked
    bit-by-bit in stream order, which for canonical codes means
    accumulating into the high end)."""

    __slots__ = ("single", "table", "maxlen")

    def __init__(self, lengths: List[int], single: Optional[int] = None):
        if single is not None:
            self.single = single
            self.table = None
            self.maxlen = 0
            return
        nz = [l for l in lengths if l]
        if len(nz) == 1:
            self.single = lengths.index(max(lengths))
            self.table = None
            self.maxlen = 0
            return
        self.single = None
        self.table = _canonical_codes(lengths)
        self.maxlen = max(lengths)

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for ln in range(1, self.maxlen + 1):
            code = (code << 1) | br.read_bit()
            sym = self.table.get((code, ln))
            if sym is not None:
                return sym
        raise ValueError("invalid prefix code in VP8L stream")


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _Prefix:
    """One prefix code (spec 5.2.2): simple (1-2 symbols) or normal."""
    if br.read_bit():  # simple code
        num_symbols = br.read_bit() + 1
        if br.read_bit():  # first symbol is 8 bits
            first = br.read_bits(8)
        else:
            first = br.read_bits(1)
        if num_symbols == 1:
            if first >= alphabet_size:
                raise ValueError("simple-code symbol out of range")
            return _Prefix([], single=first)
        second = br.read_bits(8)
        if first >= alphabet_size or second >= alphabet_size or first == second:
            raise ValueError("simple-code symbols invalid")
        lengths = [0] * alphabet_size
        lengths[first] = 1
        lengths[second] = 1
        return _Prefix(lengths)
    # normal: code-length code
    num_cl = br.read_bits(4) + 4
    if num_cl > len(_CL_ORDER):
        raise ValueError("bad code-length-code count")
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read_bits(3)
    cl_code = _Prefix(cl_lengths)

    if br.read_bit():  # length-limited symbol list
        length_nbits = 2 + 2 * br.read_bits(3)
        max_symbol = 2 + br.read_bits(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    sym = 0
    while sym < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = cl_code.read(br)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev_len = cl
        elif cl == 16:
            rep = 3 + br.read_bits(2)
            if sym + rep > alphabet_size:
                raise ValueError("code-length repeat overflow")
            for _ in range(rep):
                lengths[sym] = prev_len
                sym += 1
        elif cl == 17:
            sym += 3 + br.read_bits(3)
        else:  # 18
            sym += 11 + br.read_bits(7)
        if sym > alphabet_size:
            raise ValueError("code-length run overflow")
    return _Prefix(lengths)


# --------------------------------------------------------------------------
# LZ77 distance mapping (spec 4.2.2: 120 close-neighbor codes)

_NEIGHBOR_MAP: List[Tuple[int, int]] = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (2, 7), (-2, 7), (7, 2), (-7, 2), (4, 6), (-4, 6), (6, 4), (-6, 4),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (7, 5), (-7, 5), (5, 7), (-5, 7),
    (8, 3), (8, 4), (6, 7), (-6, 7), (7, 6), (-7, 6), (8, 5),
    (7, 7), (-7, 7), (8, 6), (8, 7),
]
# the map is exactly the x ∈ [-7, 8] × y ∈ [0, 7] neighbor grid minus the
# non-causal y=0, x≤0 half-row — 120 codes, each used once
assert len(_NEIGHBOR_MAP) == 120 and len(set(_NEIGHBOR_MAP)) == 120
assert all(
    0 <= dy <= 7 and -7 <= dx <= 8 and (dy > 0 or dx > 0)
    for dx, dy in _NEIGHBOR_MAP
)


def _plane_code_to_distance(xsize: int, code: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _NEIGHBOR_MAP[code - 1]
    dist = dy * xsize + dx
    return dist if dist >= 1 else 1


def _distance_to_plane_code(xsize: int, dist: int) -> int:
    """Encoder side: prefer a close-neighbor code when one maps exactly."""
    for i, (dx, dy) in enumerate(_NEIGHBOR_MAP):
        d = dy * xsize + dx
        if d == dist and d >= 1:
            return i + 1
    return dist + 120


def _prefix_decode_extra(br: _BitReader, code: int) -> int:
    """LZ77 length/distance prefix value (spec 4.2.1)."""
    if code < 4:
        return code + 1
    extra_bits = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra_bits
    return offset + br.read_bits(extra_bits) + 1


def _prefix_encode_extra(value: int) -> Tuple[int, int, int]:
    """value → (prefix_code, extra_bits, extra_value)."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    hi = v.bit_length() - 1
    extra_bits = hi - 1
    code = 2 * hi + ((v >> extra_bits) & 1)
    return code, extra_bits, v & ((1 << extra_bits) - 1)


# --------------------------------------------------------------------------
# entropy-coded ARGB image decode

_GREEN_LITS = 256 + 24


def _read_code_groups(br: _BitReader, cache_size: int, n_groups: int):
    groups = []
    for _ in range(n_groups):
        groups.append(
            (
                _read_prefix_code(br, _GREEN_LITS + cache_size),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 256),
                _read_prefix_code(br, 40),
            )
        )
    return groups


def _decode_image(br: _BitReader, xsize: int, ysize: int, is_level0: bool):
    """Decode one entropy-coded ARGB image to a flat uint32 array
    (a<<24|r<<16|g<<8|b). Sub-images (transforms, meta) use
    ``is_level0=False`` — no meta-prefix recursion."""
    if xsize <= 0 or ysize <= 0 or xsize * ysize > MAX_PIXELS:
        raise ValueError("VP8L image dimensions out of range")
    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read_bits(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("bad color-cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta = None
    meta_block_bits = 0
    n_groups = 1
    if is_level0 and br.read_bit():
        meta_block_bits = br.read_bits(3) + 2
        mw = (xsize + (1 << meta_block_bits) - 1) >> meta_block_bits
        mh = (ysize + (1 << meta_block_bits) - 1) >> meta_block_bits
        meta = _decode_image(br, mw, mh, False)
        n_groups = int(max((int(p) >> 8) & 0xFFFF for p in meta)) + 1

    groups = _read_code_groups(br, cache_size, n_groups)
    cache = [0] * cache_size

    npix = xsize * ysize
    out = np.zeros(npix, dtype=np.uint64)
    pos = 0
    mw = (xsize + (1 << meta_block_bits) - 1) >> meta_block_bits if meta is not None else 0

    def emit(argb: int) -> None:
        nonlocal pos
        out[pos] = argb
        pos += 1
        if cache_size:
            cache[((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)] = argb

    while pos < npix:
        if meta is not None:
            x = pos % xsize
            y = pos // xsize
            mp = int(meta[(y >> meta_block_bits) * mw + (x >> meta_block_bits)])
            g = (mp >> 8) & 0xFFFF
        else:
            g = 0
        green_c, red_c, blue_c, alpha_c, dist_c = groups[g]
        s = green_c.read(br)
        if s < 256:
            r = red_c.read(br)
            b = blue_c.read(br)
            a = alpha_c.read(br)
            emit((a << 24) | (r << 16) | (s << 8) | b)
        elif s < _GREEN_LITS:
            length = _prefix_decode_extra(br, s - 256)
            dcode = dist_c.read(br)
            dist = _plane_code_to_distance(xsize, _prefix_decode_extra(br, dcode))
            if dist < 1 or dist > pos:
                raise ValueError("LZ77 distance out of range")
            if pos + length > npix:
                raise ValueError("LZ77 length overruns image")
            for _ in range(length):
                emit(int(out[pos - dist]))
        else:
            idx = s - _GREEN_LITS
            if idx >= cache_size:
                raise ValueError("color-cache index out of range")
            emit(cache[idx])
    return out


# --------------------------------------------------------------------------
# transforms (inverse)

def _argb_planes(flat: np.ndarray, xsize: int, ysize: int) -> np.ndarray:
    """flat uint argb → (h, w, 4) uint8 [a, r, g, b]."""
    v = flat.astype(np.uint32).reshape(ysize, xsize)
    return np.stack(
        [(v >> 24) & 0xFF, (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF], axis=-1
    ).astype(np.uint8)


def _argb_flat(img: np.ndarray) -> np.ndarray:
    """(h, w, 4) uint8 [a, r, g, b] planes → flat uint64 argb (the
    inverse of :func:`_argb_planes`)."""
    a = img.astype(np.uint64)
    return (
        (a[:, :, 0] << 24) | (a[:, :, 1] << 16) | (a[:, :, 2] << 8) | a[:, :, 3]
    ).ravel()


def _inv_subtract_green(img: np.ndarray) -> None:
    g = img[:, :, 2].astype(np.uint16)
    img[:, :, 1] = ((img[:, :, 1].astype(np.uint16) + g) & 0xFF).astype(np.uint8)
    img[:, :, 3] = ((img[:, :, 3].astype(np.uint16) + g) & 0xFF).astype(np.uint8)


def _ctd(t: int, c: int) -> int:
    """ColorTransformDelta: signed(t) * signed(c) >> 5."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _inv_color_transform(img: np.ndarray, sub: np.ndarray, bits: int, xsize: int) -> None:
    h, w = img.shape[:2]
    mw = (w + (1 << bits) - 1) >> bits
    for y in range(h):
        for x in range(w):
            cte = int(sub[(y >> bits) * mw + (x >> bits)])
            g2r = cte & 0xFF          # blue channel
            g2b = (cte >> 8) & 0xFF   # green channel
            r2b = (cte >> 16) & 0xFF  # red channel
            g = int(img[y, x, 2])
            r = (int(img[y, x, 1]) + _ctd(g2r, g)) & 0xFF
            img[y, x, 1] = r
            img[y, x, 3] = (int(img[y, x, 3]) + _ctd(g2b, g) + _ctd(r2b, r)) & 0xFF


def _avg2(a, b):
    return tuple((int(x) + int(y)) >> 1 for x, y in zip(a, b))


def _clamp_add_sub_full(l, t, tl):
    return tuple(
        min(255, max(0, int(a) + int(b) - int(c))) for a, b, c in zip(l, t, tl)
    )


def _clamp_add_sub_half(avg, tl):
    out = []
    for a, c in zip(avg, tl):
        v = int(a) + (int(a) - int(c)) // 2
        out.append(min(255, max(0, v)))
    return tuple(out)


def _select(l, t, tl):
    p = tuple(int(a) + int(b) - int(c) for a, b, c in zip(l, t, tl))
    pl = sum(abs(x - int(y)) for x, y in zip(p, l))
    pt = sum(abs(x - int(y)) for x, y in zip(p, t))
    return l if pl <= pt else t


def _inv_predictor_transform(img: np.ndarray, sub: np.ndarray, bits: int) -> None:
    h, w = img.shape[:2]
    mw = (w + (1 << bits) - 1) >> bits
    black = (255, 0, 0, 0)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = black
            elif y == 0:
                pred = tuple(img[0, x - 1])
            elif x == 0:
                pred = tuple(img[y - 1, 0])
            else:
                mode = (int(sub[(y >> bits) * mw + (x >> bits)]) >> 8) & 0xFF
                L = tuple(img[y, x - 1])
                T = tuple(img[y - 1, x])
                TL = tuple(img[y - 1, x - 1])
                # rightmost column: (x+1, y-1) in flat raster order is the
                # CURRENT row's first pixel (already decoded; spec wrap)
                TR = tuple(img[y - 1, x + 1]) if x + 1 < w else tuple(img[y, 0])
                if mode == 0:
                    pred = black
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred = _avg2(L, TL)
                elif mode == 7:
                    pred = _avg2(L, T)
                elif mode == 8:
                    pred = _avg2(TL, T)
                elif mode == 9:
                    pred = _avg2(T, TR)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:
                    pred = _select(L, T, TL)
                elif mode == 12:
                    pred = _clamp_add_sub_full(L, T, TL)
                elif mode == 13:
                    pred = _clamp_add_sub_half(_avg2(L, T), TL)
                else:
                    raise ValueError("bad predictor mode")
            for c in range(4):
                img[y, x, c] = (int(img[y, x, c]) + pred[c]) & 0xFF


def _palette_width_bits(n_colors: int) -> int:
    if n_colors <= 2:
        return 3
    if n_colors <= 4:
        return 2
    if n_colors <= 16:
        return 1
    return 0


def _inv_color_indexing(
    flat: np.ndarray, palette: np.ndarray, xsize: int, ysize: int, packed_w: int
) -> np.ndarray:
    """Packed index image (flat argb over packed_w × ysize) → flat argb
    over xsize × ysize via the delta-summed palette."""
    n_colors = len(palette)
    wb = _palette_width_bits(n_colors)
    bpp = 8 >> wb
    mask = (1 << bpp) - 1
    per = 1 << wb
    out = np.zeros(xsize * ysize, dtype=np.uint64)
    for y in range(ysize):
        for x in range(xsize):
            packed = int(flat[y * packed_w + (x >> wb)])
            idx = ((packed >> 8) >> ((x % per) * bpp)) & mask
            if idx >= n_colors:
                raise ValueError("palette index out of range")
            out[y * xsize + x] = int(palette[idx])
    return out


# --------------------------------------------------------------------------
# top-level decode

def decode_vp8l(payload: bytes) -> np.ndarray:
    """VP8L chunk payload → (h, w, 4) uint8 RGBA."""
    br = _BitReader(payload)
    if br.read_bits(8) != 0x2F:
        raise ValueError("bad VP8L signature")
    xsize = br.read_bits(14) + 1
    ysize = br.read_bits(14) + 1
    br.read_bit()  # alpha-is-used hint
    if br.read_bits(3) != 0:
        raise ValueError("unsupported VP8L version")
    if xsize * ysize > MAX_PIXELS:
        raise ValueError("VP8L image too large")

    # transforms (read order recorded; applied in reverse)
    transforms = []
    seen = set()
    cur_w = xsize
    while br.read_bit():
        ttype = br.read_bits(2)
        if ttype in seen:
            raise ValueError("duplicate VP8L transform")
        seen.add(ttype)
        if ttype == 0:  # predictor
            bits = br.read_bits(3) + 2
            mw = (cur_w + (1 << bits) - 1) >> bits
            mh = (ysize + (1 << bits) - 1) >> bits
            sub = _decode_image(br, mw, mh, False)
            transforms.append(("predictor", bits, sub))
        elif ttype == 1:  # cross-color
            bits = br.read_bits(3) + 2
            mw = (cur_w + (1 << bits) - 1) >> bits
            mh = (ysize + (1 << bits) - 1) >> bits
            sub = _decode_image(br, mw, mh, False)
            transforms.append(("color", bits, sub))
        elif ttype == 2:  # subtract green
            transforms.append(("subtract_green",))
        else:  # color indexing
            n_colors = br.read_bits(8) + 1
            pal_deltas = _decode_image(br, n_colors, 1, False)
            palette = np.zeros(n_colors, dtype=np.uint64)
            acc = 0
            for i in range(n_colors):
                d = int(pal_deltas[i])
                # component-wise delta sum (mod 256 per channel)
                acc = (
                    (((acc >> 24) + (d >> 24)) & 0xFF) << 24
                    | (((acc >> 16) + (d >> 16)) & 0xFF) << 16
                    | ((((acc >> 8) + (d >> 8)) & 0xFF) << 8)
                    | ((acc + d) & 0xFF)
                ) & 0xFFFFFFFF
                palette[i] = acc
            wb = _palette_width_bits(n_colors)
            packed_w = (cur_w + (1 << wb) - 1) >> wb
            transforms.append(("palette", palette, cur_w, packed_w))
            cur_w = packed_w

    flat = _decode_image(br, cur_w, ysize, True)

    # inverse transforms, reverse read order
    img = None
    for t in reversed(transforms):
        if t[0] == "palette":
            _, palette, unpacked_w, packed_w = t
            if img is not None:  # transforms read after color indexing
                flat = _argb_flat(img)
            flat = _inv_color_indexing(flat, palette, unpacked_w, ysize, packed_w)
            cur_w = unpacked_w
            img = None
        else:
            if img is None:
                img = _argb_planes(flat, cur_w, ysize)
            if t[0] == "predictor":
                _inv_predictor_transform(img, t[2], t[1])
            elif t[0] == "color":
                _inv_color_transform(img, t[2], t[1], cur_w)
            elif t[0] == "subtract_green":
                _inv_subtract_green(img)
    if img is None:
        img = _argb_planes(flat, cur_w, ysize)
    # ARGB planes → RGBA
    return img[:, :, [1, 2, 3, 0]].copy()


def decode_webp(data: bytes) -> np.ndarray:
    """WebP container → (h, w, 4) uint8 RGBA. Lossless (VP8L) only —
    lossy VP8 raises ``ValueError`` (the router's PIL-gate signal)."""
    chunks = webp_chunks(data)
    for tag, body in chunks:
        if tag == b"VP8L":
            return decode_vp8l(body)
    tags = [t.decode("latin-1") for t, _ in chunks]
    raise ValueError(f"no VP8L chunk (lossy/extended WebP: {tags})")


# --------------------------------------------------------------------------
# fixture encoder

def _code_lengths(freq: List[int], max_len: int = 15) -> List[int]:
    """Package-merge-free length assignment: Huffman by repeated merge,
    then clamp to ``max_len`` with Kraft repair (fixture-quality)."""
    syms = [i for i, f in enumerate(freq) if f > 0]
    if not syms:
        raise ValueError("empty histogram")
    if len(syms) == 1:
        out = [0] * len(freq)
        out[syms[0]] = 1
        return out
    import heapq

    heap = [(freq[s], i, (s,)) for i, s in enumerate(syms)]
    heapq.heapify(heap)
    depth = {s: 0 for s in syms}
    ctr = len(heap)
    while len(heap) > 1:
        fa, _, sa = heapq.heappop(heap)
        fb, _, sb = heapq.heappop(heap)
        for s in sa + sb:
            depth[s] += 1
        ctr += 1
        heapq.heappush(heap, (fa + fb, ctr, sa + sb))
    lengths = [0] * len(freq)
    for s, d in depth.items():
        lengths[s] = min(d, max_len)
    # Kraft repair after clamping
    while sum(1 << (max_len - l) for l in lengths if l) > (1 << max_len):
        for s in sorted(depth, key=lambda s: lengths[s]):
            if 0 < lengths[s] < max_len:
                lengths[s] += 1
                break
    return lengths


def _encoder_codes(lengths: List[int]) -> dict:
    """lengths → {symbol: (code, length)} canonical."""
    return {s: (c, l) for (c, l), s in _canonical_codes(lengths).items()}


def _write_prefix_code(bw: _BitWriter, lengths: List[int]) -> None:
    """Normal-form prefix-code header: code-length code with only
    literal lengths (no repeats — fixture simplicity over size)."""
    nz = [s for s, l in enumerate(lengths) if l]
    if len(nz) <= 2 and all(s <= 255 for s in nz):
        # simple code (symbols must fit 8 bits)
        bw.write_bits(1, 1)
        bw.write_bits(len(nz) - 1, 1)
        first = nz[0]
        if first <= 1:
            bw.write_bits(0, 1)
            bw.write_bits(first, 1)
        else:
            bw.write_bits(1, 1)
            bw.write_bits(first, 8)
        if len(nz) == 2:
            if nz[1] > 255:
                raise ValueError("simple-code fixture symbol > 255")
            bw.write_bits(nz[1], 8)
        return
    bw.write_bits(0, 1)  # normal
    max_cl = max(lengths)
    if max_cl > 15:
        raise ValueError("fixture code length > 15")
    cl_bits = max(3, max_cl.bit_length())
    if cl_bits > 7:
        raise ValueError("code-length-code length > 7")
    # code-length code: fixed-width codes for 0..15 → all cl lengths =
    # cl_needed where 2^cl >= 16; use length 5 for all 16 literal symbols
    # (Kraft: 16 * 2^-5 = 1/2 < 1 — valid, wasteful, simple) plus pad a
    # 17th symbol so the code isn't degenerate... simpler: emit lengths
    # 4 for symbols 0..15 (16 × 2^-4 = 1, complete code).
    bw.write_bits(15, 4)  # num_code_lengths = 4 + 15 = 19 (all)
    cl_lengths = [0] * 19
    for s in range(16):
        cl_lengths[s] = 4
    for s in _CL_ORDER:
        bw.write_bits(cl_lengths[s], 3)
    cl_codes = _encoder_codes(cl_lengths)
    bw.write_bits(0, 1)  # no max-symbol limit
    for l in lengths:
        code, ln = cl_codes[l]
        bw.write_bits(_rev_msb(code, ln), ln)


def _rev_msb(code: int, length: int) -> int:
    """Canonical codes are defined MSB-first; the LSB-first writer needs
    them bit-reversed so the reader (which accumulates MSB-first from
    sequential bits) sees the canonical order."""
    out = 0
    for _ in range(length):
        out = (out << 1) | (code & 1)
        code >>= 1
    return out


class _SymWriter:
    __slots__ = ("bw", "codes")

    def __init__(self, bw: _BitWriter, lengths: List[int]):
        self.bw = bw
        nz = [s for s, l in enumerate(lengths) if l]
        if len(nz) == 1:
            self.codes = {nz[0]: (0, 0)}
        else:
            self.codes = _encoder_codes(lengths)

    def write(self, sym: int) -> None:
        code, ln = self.codes[sym]
        if ln:
            self.bw.write_bits(_rev_msb(code, ln), ln)


def _tokenize(flat: np.ndarray, xsize: int, use_lz77: bool, cache_bits: int):
    """ARGB stream → token list [('lit', argb) | ('copy', len, dist) |
    ('cache', idx)] with a greedy back-run matcher (fixture-grade)."""
    n = len(flat)
    toks = []
    cache = [None] * (1 << cache_bits) if cache_bits else None
    pos = 0
    vals = [int(v) for v in flat]

    def note(argb):
        if cache is not None:
            cache[((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)] = argb

    while pos < n:
        # greedy: try a copy of the previous row or previous pixel
        best_len = 0
        best_dist = 0
        if use_lz77 and pos >= 1:
            for dist in (1, xsize):
                if dist > pos:
                    continue
                ln = 0
                while pos + ln < n and ln < 4096 and vals[pos + ln] == vals[pos + ln - dist]:
                    ln += 1
                if ln > best_len:
                    best_len, best_dist = ln, dist
        if best_len >= 3:
            toks.append(("copy", best_len, best_dist))
            for k in range(best_len):
                note(vals[pos + k])
            pos += best_len
            continue
        argb = vals[pos]
        if cache is not None:
            h = ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[h] == argb:
                toks.append(("cache", h))
                pos += 1
                continue
        toks.append(("lit", argb))
        note(argb)
        pos += 1
    return toks


def _encode_entropy_image(
    bw: _BitWriter, flat: np.ndarray, xsize: int, use_lz77: bool = True,
    cache_bits: int = 0, is_level0: bool = False,
) -> None:
    """One entropy-coded ARGB image (single code group, no meta codes —
    the level-0 image writes the meta-prefix bit as 0)."""
    if cache_bits:
        bw.write_bits(1, 1)
        bw.write_bits(cache_bits, 4)
    else:
        bw.write_bits(0, 1)
    if is_level0:
        bw.write_bits(0, 1)  # no meta-prefix codes
    cache_size = (1 << cache_bits) if cache_bits else 0
    toks = _tokenize(flat, xsize, use_lz77, cache_bits)

    gfreq = [0] * (_GREEN_LITS + cache_size)
    rfreq = [0] * 256
    bfreq = [0] * 256
    afreq = [0] * 256
    dfreq = [0] * 40
    for t in toks:
        if t[0] == "lit":
            argb = t[1]
            gfreq[(argb >> 8) & 0xFF] += 1
            rfreq[(argb >> 16) & 0xFF] += 1
            bfreq[argb & 0xFF] += 1
            afreq[(argb >> 24) & 0xFF] += 1
        elif t[0] == "copy":
            lcode, _, _ = _prefix_encode_extra(t[1])
            gfreq[256 + lcode] += 1
            pcode = _distance_to_plane_code(xsize, t[2])
            dcode, _, _ = _prefix_encode_extra(pcode)
            dfreq[dcode] += 1
        else:
            gfreq[_GREEN_LITS + t[1]] += 1
    # every alphabet needs at least one used symbol for a valid code
    for f in (rfreq, bfreq, afreq, dfreq):
        if not any(f):
            f[0] = 1

    glen = _code_lengths(gfreq)
    rlen = _code_lengths(rfreq)
    blen = _code_lengths(bfreq)
    alen = _code_lengths(afreq)
    dlen = _code_lengths(dfreq)
    for lengths in (glen, rlen, blen, alen, dlen):
        _write_prefix_code(bw, lengths)
    gw, rw, bw_, aw, dw = (
        _SymWriter(bw, glen), _SymWriter(bw, rlen), _SymWriter(bw, blen),
        _SymWriter(bw, alen), _SymWriter(bw, dlen),
    )
    for t in toks:
        if t[0] == "lit":
            argb = t[1]
            gw.write((argb >> 8) & 0xFF)
            rw.write((argb >> 16) & 0xFF)
            bw_.write(argb & 0xFF)
            aw.write((argb >> 24) & 0xFF)
        elif t[0] == "copy":
            lcode, lxb, lxv = _prefix_encode_extra(t[1])
            gw.write(256 + lcode)
            if lxb:
                bw.write_bits(lxv, lxb)
            pcode = _distance_to_plane_code(xsize, t[2])
            dcode, dxb, dxv = _prefix_encode_extra(pcode)
            dw.write(dcode)
            if dxb:
                bw.write_bits(dxv, dxb)
        else:
            gw.write(_GREEN_LITS + t[1])


def _rgba_to_argb_flat(arr: np.ndarray) -> np.ndarray:
    a = arr.astype(np.uint64)
    return (
        (a[:, :, 3] << 24) | (a[:, :, 0] << 16) | (a[:, :, 1] << 8) | a[:, :, 2]
    ).ravel()


def encode_webp_lossless(
    arr: np.ndarray,
    subtract_green: bool = False,
    palette: bool = False,
    cache_bits: int = 0,
    use_lz77: bool = True,
) -> bytes:
    """(h, w, 3|4) uint8 → lossless WebP bytes (see module doc)."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.stack([arr] * 3, axis=-1)
    if arr.shape[2] == 3:
        arr = np.concatenate(
            [arr, np.full(arr.shape[:2] + (1,), 255, np.uint8)], axis=-1
        )
    h, w = arr.shape[:2]
    if not (1 <= w <= MAX_DIM and 1 <= h <= MAX_DIM):
        raise ValueError("unsupported fixture dimensions")

    bw = _BitWriter()
    bw.write_bits(0x2F, 8)
    bw.write_bits(w - 1, 14)
    bw.write_bits(h - 1, 14)
    bw.write_bits(1 if (arr[:, :, 3] != 255).any() else 0, 1)
    bw.write_bits(0, 3)  # version

    work = arr.copy()
    enc_w = w
    if palette:
        colors, inverse = np.unique(
            _rgba_to_argb_flat(work).astype(np.uint32), return_inverse=True
        )
        if len(colors) > 256:
            raise ValueError("palette fixture needs <= 256 colors")
        bw.write_bits(1, 1)
        bw.write_bits(3, 2)  # color indexing
        bw.write_bits(len(colors) - 1, 8)
        deltas = np.zeros(len(colors), dtype=np.uint64)
        prev = 0
        for i, c in enumerate(colors):
            c = int(c)
            d = (
                (((c >> 24) - (prev >> 24)) & 0xFF) << 24
                | (((c >> 16) - (prev >> 16)) & 0xFF) << 16
                | ((((c >> 8) - (prev >> 8)) & 0xFF) << 8)
                | ((c - prev) & 0xFF)
            )
            deltas[i] = d
            prev = c
        _encode_entropy_image(bw, deltas, len(colors), use_lz77=False)
        # pack indices into green channel
        wb = _palette_width_bits(len(colors))
        bpp = 8 >> wb
        per = 1 << wb
        packed_w = (w + per - 1) // per
        idx = inverse.reshape(h, w)
        flat = np.zeros(h * packed_w, dtype=np.uint64)
        for y in range(h):
            for x in range(w):
                g = int(flat[y * packed_w + (x // per)])
                g |= (int(idx[y, x]) << ((x % per) * bpp)) << 8
                flat[y * packed_w + (x // per)] = g
        # alpha of packed pixels: spec leaves non-green channels as
        # literals; emit a=255 r=0 b=0 so the stream is well-formed
        flat |= np.uint64(0xFF000000)
        enc_w = packed_w
    else:
        if subtract_green:
            bw.write_bits(1, 1)
            bw.write_bits(2, 2)
            g = work[:, :, 1].astype(np.int16)
            work[:, :, 0] = ((work[:, :, 0].astype(np.int16) - g) % 256).astype(np.uint8)
            work[:, :, 2] = ((work[:, :, 2].astype(np.int16) - g) % 256).astype(np.uint8)
        flat = _rgba_to_argb_flat(work)
    bw.write_bits(0, 1)  # end of transforms

    # level-0 stream order: color-cache info, meta-prefix bit (0 here),
    # the five prefix codes, pixels
    _encode_entropy_image(bw, flat, enc_w, use_lz77=use_lz77,
                          cache_bits=cache_bits, is_level0=True)

    payload = bw.flush()
    if len(payload) & 1:
        padded = payload + b"\x00"
    else:
        padded = payload
    riff_size = 4 + 8 + len(padded)
    return (
        b"RIFF" + struct.pack("<I", riff_size) + b"WEBP"
        + b"VP8L" + struct.pack("<I", len(payload)) + padded
    )
