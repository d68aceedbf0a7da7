"""VP8L (lossless WebP) codec: round-trips over every encoder path,
hand-rolled streams for the decoder-only paths (predictor / cross-color
transforms, meta-prefix groups), container handling, and the poison-pill
contract (malformed bytes → ValueError, never an arbitrary exception)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from edspdf_spark.kernel.webp import (
    _BitWriter,
    _encode_entropy_image,
    _NEIGHBOR_MAP,
    decode_vp8l,
    decode_webp,
    encode_webp_lossless,
    is_webp,
)


def _rgba(arr3):
    return np.concatenate(
        [arr3, np.full(arr3.shape[:2] + (1,), 255, np.uint8)], axis=-1
    )


def _wrap_vp8l(payload: bytes) -> bytes:
    padded = payload + (b"\x00" if len(payload) & 1 else b"")
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(padded)) + b"WEBP"
        + b"VP8L" + struct.pack("<I", len(payload)) + padded
    )


class TestRoundTrip:
    def test_random_rgba(self):
        rng = np.random.default_rng(42)
        arr = rng.integers(0, 256, (13, 17, 4), dtype=np.uint8)
        out = decode_webp(encode_webp_lossless(arr))
        assert out.shape == (13, 17, 4) and (out == arr).all()

    def test_lz77_runs(self):
        arr = np.zeros((20, 24, 3), np.uint8)
        arr[5:15, 4:20] = [200, 30, 90]
        arr[:, ::3] = [10, 250, 40]
        out = decode_webp(encode_webp_lossless(arr))
        assert (out == _rgba(arr)).all()

    def test_subtract_green_transform(self):
        rng = np.random.default_rng(1)
        arr = rng.integers(0, 256, (9, 7, 4), dtype=np.uint8)
        out = decode_webp(encode_webp_lossless(arr, subtract_green=True))
        assert (out == arr).all()

    def test_palette_bundled(self):
        rng = np.random.default_rng(2)
        g = (rng.integers(0, 3, (11, 9)) * 100).astype(np.uint8)
        arr = np.stack([g, g // 2, g // 3], axis=-1)
        out = decode_webp(encode_webp_lossless(arr, palette=True))
        assert (out == _rgba(arr)).all()

    @pytest.mark.parametrize("n_colors", [2, 4, 16, 17, 200])
    def test_palette_all_bundle_widths(self, n_colors):
        rng = np.random.default_rng(n_colors)
        idx = rng.integers(0, n_colors, (7, 13)).astype(np.uint8)
        arr = np.stack([idx, 255 - idx, (idx * 3) % 256], axis=-1).astype(np.uint8)
        out = decode_webp(encode_webp_lossless(arr, palette=True))
        assert (out == _rgba(arr)).all()

    def test_color_cache(self):
        arr = np.zeros((20, 24, 3), np.uint8)
        arr[::2, ::2] = [1, 2, 3]
        arr[1::2, 1::2] = [9, 8, 7]
        out = decode_webp(encode_webp_lossless(arr, cache_bits=4, use_lz77=False))
        assert (out == _rgba(arr)).all()

    def test_one_by_one(self):
        arr = np.array([[[1, 2, 3, 200]]], np.uint8)
        assert (decode_webp(encode_webp_lossless(arr)) == arr).all()

    def test_roundtrip_property_random_sizes(self):
        rng = np.random.default_rng(99)
        for _ in range(10):
            h = int(rng.integers(1, 40))
            w = int(rng.integers(1, 40))
            arr = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
            out = decode_webp(encode_webp_lossless(arr))
            assert (out == arr).all(), (h, w)

    def test_deterministic_bytes(self):
        arr = np.arange(96, dtype=np.uint8).reshape(4, 8, 3)
        assert encode_webp_lossless(arr) == encode_webp_lossless(arr)


def _write_header(bw, w, h):
    bw.write_bits(0x2F, 8)
    bw.write_bits(w - 1, 14)
    bw.write_bits(h - 1, 14)
    bw.write_bits(0, 1)  # alpha hint
    bw.write_bits(0, 3)  # version


def _flat_argb(img):
    """(h, w, 4) uint8 [a, r, g, b] planes → flat argb uint64."""
    a = img.astype(np.uint64)
    return (
        (a[:, :, 0] << 24) | (a[:, :, 1] << 16) | (a[:, :, 2] << 8) | a[:, :, 3]
    ).ravel()


class TestDecoderOnlyPaths:
    """Streams the fixture encoder never emits, built bit-by-bit with the
    kernel's writer against the spec layout."""

    def _predict(self, img, modes, bits, w, h):
        """Spec-faithful forward predictor: residuals = pixel - pred."""
        mw = (w + (1 << bits) - 1) >> bits
        res = np.zeros_like(img)
        av2 = lambda p, q: tuple((int(x) + int(y)) >> 1 for x, y in zip(p, q))
        for y in range(h):
            for x in range(w):
                if x == 0 and y == 0:
                    pred = (255, 0, 0, 0)
                elif y == 0:
                    pred = tuple(img[0, x - 1])
                elif x == 0:
                    pred = tuple(img[y - 1, 0])
                else:
                    mode = modes[(y >> bits) * mw + (x >> bits)]
                    L = tuple(img[y, x - 1])
                    T = tuple(img[y - 1, x])
                    TL = tuple(img[y - 1, x - 1])
                    TR = (
                        tuple(img[y - 1, x + 1]) if x + 1 < w else tuple(img[y, 0])
                    )
                    if mode == 1:
                        pred = L
                    elif mode == 2:
                        pred = T
                    elif mode == 3:
                        pred = TR
                    elif mode == 4:
                        pred = TL
                    elif mode == 7:
                        pred = av2(L, T)
                    elif mode == 9:
                        pred = av2(T, TR)
                    else:
                        raise AssertionError("fixture uses a subset of modes")
                for c in range(4):
                    res[y, x, c] = (int(img[y, x, c]) - pred[c]) & 0xFF
        return res

    def test_predictor_transform(self):
        rng = np.random.default_rng(5)
        w = h = 10
        bits = 2  # 4x4 blocks → 3x3 sub-image
        img = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
        modes = [1, 2, 3, 4, 7, 9, 1, 2, 3]
        res = self._predict(img, modes, bits, w, h)

        bw = _BitWriter()
        _write_header(bw, w, h)
        bw.write_bits(1, 1)  # transform present
        bw.write_bits(0, 2)  # predictor
        bw.write_bits(bits - 2, 3)
        sub = np.array(
            [0xFF000000 | (m << 8) for m in modes], dtype=np.uint64
        )
        _encode_entropy_image(bw, sub, 3, use_lz77=False)
        bw.write_bits(0, 1)  # end of transforms
        _encode_entropy_image(bw, _flat_argb(res), w, is_level0=True)

        out = decode_vp8l(bw.flush())
        # decode_vp8l returns RGBA; compare against img's [r, g, b, a]
        assert (out == img[:, :, [1, 2, 3, 0]]).all()

    def test_cross_color_transform(self):
        rng = np.random.default_rng(6)
        w, h, bits = 8, 6, 3  # one 8x8 block
        img = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
        g2r, g2b, r2b = 0x12, 0xF0, 0x08  # includes a negative (0xF0)

        def ctd(t, c):
            ts = t - 256 if t >= 128 else t
            cs = c - 256 if c >= 128 else c
            return (ts * cs) >> 5

        res = img.copy()
        for y in range(h):
            for x in range(w):
                g = int(img[y, x, 2])
                r = int(img[y, x, 1])
                b = int(img[y, x, 3])
                # forward: subtract the deltas the decoder will add back
                new_r = (r - ctd(g2r, g)) & 0xFF
                new_b = (b - ctd(g2b, g) - ctd(r2b, r)) & 0xFF
                res[y, x, 1] = new_r
                res[y, x, 3] = new_b

        bw = _BitWriter()
        _write_header(bw, w, h)
        bw.write_bits(1, 1)
        bw.write_bits(1, 2)  # cross-color
        bw.write_bits(bits - 2, 3)
        cte = 0xFF000000 | (r2b << 16) | (g2b << 8) | g2r
        _encode_entropy_image(
            bw, np.array([cte], dtype=np.uint64), 1, use_lz77=False
        )
        bw.write_bits(0, 1)
        _encode_entropy_image(bw, _flat_argb(res), w, is_level0=True)

        out = decode_vp8l(bw.flush())
        assert (out == img[:, :, [1, 2, 3, 0]]).all()

    def test_predictor_read_after_color_indexing(self):
        """A predictor read AFTER color indexing runs over the index image,
        and the palette lookup must see its output, not the residuals."""
        rng = np.random.default_rng(7)
        w, h, bits, n_colors = 8, 6, 2, 17  # 17 colors: one index per pixel
        palette = rng.integers(0, 1 << 32, n_colors, dtype=np.uint64)
        idx = rng.integers(0, n_colors, (h, w)).astype(np.uint8)
        packed = np.zeros((h, w, 4), np.uint8)
        packed[:, :, 0] = 255
        packed[:, :, 2] = idx  # the index sits in the green channel
        modes = [1, 2, 7, 9]  # 2x2 blocks of 4x4 pixels
        res = self._predict(packed, modes, bits, w, h)

        bw = _BitWriter()
        _write_header(bw, w, h)
        bw.write_bits(1, 1)
        bw.write_bits(3, 2)  # color indexing first
        bw.write_bits(n_colors - 1, 8)
        deltas, prev = [], 0
        for c in map(int, palette):
            deltas.append(sum(
                (((c >> s) - (prev >> s)) & 0xFF) << s for s in (24, 16, 8, 0)
            ))
            prev = c
        _encode_entropy_image(
            bw, np.array(deltas, dtype=np.uint64), n_colors, use_lz77=False
        )
        bw.write_bits(1, 1)
        bw.write_bits(0, 2)  # then a predictor over the index image
        bw.write_bits(bits - 2, 3)
        sub = np.array([0xFF000000 | (m << 8) for m in modes], dtype=np.uint64)
        _encode_entropy_image(bw, sub, 2, use_lz77=False)
        bw.write_bits(0, 1)
        _encode_entropy_image(bw, _flat_argb(res), w, is_level0=True)

        out = decode_vp8l(bw.flush())
        argb = palette[idx].astype(np.uint64)
        want = np.stack(
            [(argb >> s) & 0xFF for s in (16, 8, 0, 24)], axis=-1
        ).astype(np.uint8)
        assert (out == want).all()

    def test_meta_prefix_groups(self):
        """Two code groups split left/right; each half uses colors only
        its own group's codes can express."""
        w, h, bits = 8, 4, 2  # blocks of 4 → meta is 2x1
        img = np.zeros((h, w, 4), np.uint8)
        img[:, :4] = [255, 10, 20, 30]   # group 0 colors
        img[:, 4:] = [255, 200, 210, 220]  # group 1 colors
        flat = _flat_argb(img)

        from edspdf_spark.kernel.webp import (
            _code_lengths,
            _GREEN_LITS,
            _SymWriter,
            _write_prefix_code,
        )

        bw = _BitWriter()
        _write_header(bw, w, h)
        bw.write_bits(0, 1)  # no transforms
        bw.write_bits(0, 1)  # no color cache
        bw.write_bits(1, 1)  # meta-prefix present
        bw.write_bits(bits - 2, 3)
        meta = np.array([0xFF000000 | (0 << 8), 0xFF000000 | (1 << 8)], np.uint64)
        _encode_entropy_image(bw, meta, 2, use_lz77=False)

        groups = []
        for half in (img[:, :4], img[:, 4:]):
            freqs = [
                np.bincount(half[:, :, ch].ravel(), minlength=256).tolist()
                for ch in (2, 1, 3, 0)  # green, red, blue, alpha
            ]
            gfreq = freqs[0] + [0] * 24
            lens = [
                _code_lengths(gfreq),
                _code_lengths(freqs[1]),
                _code_lengths(freqs[2]),
                _code_lengths(freqs[3]),
                _code_lengths([1] + [0] * 39),
            ]
            groups.append(lens)
        for lens in groups:
            for lengths in lens:
                _write_prefix_code(bw, lengths)
        writers = [
            [_SymWriter(bw, lengths) for lengths in lens] for lens in groups
        ]
        for pos, argb in enumerate(flat):
            x = pos % w
            gw, rw, bw_, aw, _dw = writers[x >> bits]
            argb = int(argb)
            gw.write((argb >> 8) & 0xFF)
            rw.write((argb >> 16) & 0xFF)
            bw_.write(argb & 0xFF)
            aw.write((argb >> 24) & 0xFF)

        out = decode_vp8l(bw.flush())
        assert (out == img[:, :, [1, 2, 3, 0]]).all()


class TestContainerAndRouting:
    def test_is_webp(self):
        arr = np.zeros((2, 2, 3), np.uint8)
        assert is_webp(encode_webp_lossless(arr))
        assert not is_webp(b"RIFF\x00\x00\x00\x00WAVE")
        assert not is_webp(b"")

    def test_lossy_vp8_raises_valueerror(self):
        fake = (
            b"RIFF" + struct.pack("<I", 16) + b"WEBP"
            + b"VP8 " + struct.pack("<I", 4) + b"\x00\x01\x02\x03"
        )
        with pytest.raises(ValueError, match="VP8L"):
            decode_webp(fake)

    def test_vp8x_wrapped_vp8l_decodes(self):
        arr = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
        plain = encode_webp_lossless(arr)
        # re-wrap: VP8X header chunk before the VP8L chunk
        inner = plain[12:]
        vp8x = b"VP8X" + struct.pack("<I", 10) + b"\x00" * 10
        data = (
            b"RIFF" + struct.pack("<I", 4 + len(vp8x) + len(inner))
            + b"WEBP" + vp8x + inner
        )
        assert (decode_webp(data) == _rgba(arr)).all()

    def test_decode_image_pixels_routes_webp_natively(self, spark):
        from edspdf_spark.functions.multimodal import decode_image_pixels

        arr = np.arange(60, dtype=np.uint8).reshape(4, 5, 3)
        good = encode_webp_lossless(arr)
        lossy = (
            b"RIFF" + struct.pack("<I", 16) + b"WEBP"
            + b"VP8 " + struct.pack("<I", 4) + b"\x00\x01\x02\x03"
        )
        df = spark.createDataFrame(
            [("good", bytearray(good)), ("lossy", bytearray(lossy))],
            "name string, media binary",
        )
        rows = {r.name: r for r in decode_image_pixels(df).collect()}
        g = rows["good"]
        assert g.codec == "webp" and (g.px_w, g.px_h, g.px_c) == (5, 4, 4)
        assert bytes(g.pixels) == _rgba(arr).tobytes()
        l = rows["lossy"]
        assert l.codec == "webp" and l.pixels is None


class TestPoisonPills:
    def test_random_garbage_never_raises_non_valueerror(self):
        rng = np.random.default_rng(123)
        for _ in range(200):
            body = bytes(rng.integers(0, 256, int(rng.integers(0, 200))).tolist())
            blob = (
                b"RIFF" + struct.pack("<I", 4 + 8 + len(body)) + b"WEBP"
                + b"VP8L" + struct.pack("<I", len(body)) + body
            )
            try:
                out = decode_webp(blob)
                assert out.dtype == np.uint8
            except ValueError:
                pass

    def test_bit_flips_in_valid_stream_stay_valueerror_or_decode(self):
        rng = np.random.default_rng(7)
        arr = rng.integers(0, 256, (8, 8, 4), dtype=np.uint8)
        base = bytearray(encode_webp_lossless(arr))
        for _ in range(150):
            mutated = bytearray(base)
            for _ in range(int(rng.integers(1, 4))):
                pos = int(rng.integers(12, len(base)))
                mutated[pos] ^= 1 << int(rng.integers(0, 8))
            try:
                out = decode_webp(bytes(mutated))
                assert out.dtype == np.uint8
            except ValueError:
                pass

    def test_giant_declared_dims_raise_before_allocation(self):
        bw = _BitWriter()
        _write_header(bw, 16384, 16384)  # 268M pixels > cap
        bw.write_bits(0, 1)
        with pytest.raises(ValueError, match="too large"):
            decode_vp8l(_wrap_vp8l(bw.flush())[20:])  # payload only

    def test_truncated_stream_raises(self):
        arr = np.arange(27, dtype=np.uint8).reshape(3, 3, 3)
        data = encode_webp_lossless(arr)
        with pytest.raises(ValueError):
            decode_webp(data[: len(data) - 4])

    def test_neighbor_map_is_the_spec_grid(self):
        full = {(x, y) for y in range(8) for x in range(-7, 9) if y > 0 or x > 0}
        assert set(_NEIGHBOR_MAP) == full and len(_NEIGHBOR_MAP) == 120
