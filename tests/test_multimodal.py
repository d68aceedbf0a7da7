"""Multimodal binary-column plumbing: metadata decode, feature extraction,
resize planning, frame sampling — real Spark plumbing, stubbed codecs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from edspdf_spark.functions.multimodal import (
    decode_image_pixels,
    encode_audio,
    encode_image,
    encode_video,
    resize_plan,
    sample_frame_indices,
    with_byte_histogram,
    with_media_meta,
)

MEDIA_ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("media", T.BinaryType(), True),
    ]
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (0, encode_image(640, 480, 3, b"pixels" * 100)),
        (1, encode_image(32, 32, 1, b"\x00" * 64)),
        (2, encode_audio(44100, 88200, b"pcm" * 50)),
        (3, encode_video(1920, 1080, 300, 29970, b"frames" * 20)),
        (4, encode_video(640, 360, 12, 25000, b"x" * 10)),
        (5, b"JUNKNOTAMEDIA"),
        (6, None),
    ]
    return spark.createDataFrame(rows, MEDIA_ROW_SCHEMA)


def test_media_meta_decode(media_df):
    got = {r.id: r for r in with_media_meta(media_df).collect()}
    assert got[0].media_type == "image" and (got[0].width, got[0].height, got[0].channels) == (640, 480, 3)
    assert got[1].media_type == "image" and got[1].n_bytes == 13 + 64
    assert got[2].media_type == "audio" and (got[2].sample_rate, got[2].n_samples) == (44100, 88200)
    assert got[3].media_type == "video" and (got[3].n_frames, got[3].fps_milli) == (300, 29970)
    assert got[5].media_type is None  # unknown magic → typed nulls, no error
    assert got[6].media_type is None and got[6].n_bytes == 0


def test_byte_histogram(media_df):
    got = {r.id: r.byte_hist for r in with_byte_histogram(media_df, n_bins=16).collect()}
    for h in got.values():
        assert len(h) == 16
        assert abs(sum(h) - 1.0) < 1e-9 or sum(h) == 0.0
    # all-zero payload (id=1, skipping 13-byte header) → all mass in bin 0
    hist1 = with_byte_histogram(
        media_df.filter(F.col("id") == 1), n_bins=16, skip_header=13
    ).collect()[0].byte_hist
    assert hist1[0] == 1.0 and sum(hist1[1:]) == 0.0


def test_resize_plan(media_df):
    meta = with_media_meta(media_df.filter(F.col("id").isin(0, 1)))
    got = {r.id: r for r in resize_plan(meta, max_side=224).collect()}
    assert (got[0].target_w, got[0].target_h) == (224, 168)  # 640x480 → 224x168
    assert (got[1].target_w, got[1].target_h) == (32, 32)  # already small → 1.0
    assert got[1].scale == 1.0


def test_sample_frame_indices(media_df):
    meta = with_media_meta(media_df)
    got = sample_frame_indices(meta, every_n=10, max_frames=8).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r.id, []).append((r.frame_idx, r.frame_ts_milli))
    # 300 frames → capped at 8 samples, stride 10
    assert [i for i, _ in sorted(by_id[3])] == [0, 10, 20, 30, 40, 50, 60, 70]
    # 12 frames → only 0 and 10
    assert [i for i, _ in sorted(by_id[4])] == [0, 10]
    # non-video rows contribute nothing
    assert set(by_id) == {3, 4}
    # timestamp math: frame 10 at 29.97 fps → 333 ms
    assert dict(by_id[3])[10] == int(10 * 1000 * 1000 / 29970)


def test_pixel_decode_routes_synthetic_container(media_df):
    """decode_image_pixels is a real stage since round 3 (PNG decodes
    natively — TestPngCodec); the synthetic IMG0 container routes through
    with its payload plane or NULL pixels when the payload is short."""
    out = decode_image_pixels(media_df)
    assert {"codec", "px_w", "px_h", "px_c", "pixels"} <= set(out.columns)
    assert out.filter(out.codec.isin("img0", "unknown", "corrupt")).count() == out.count()


def test_meta_decode_pushes_passthrough_columns(media_df):
    out = with_media_meta(media_df.withColumn("extra", F.col("id") * 2))
    row = out.filter(F.col("id") == 0).collect()[0]
    assert row.extra == 0 and row.media_type == "image"


class TestPngCodec:
    def test_roundtrip_all_channel_counts(self):
        import numpy as np

        from edspdf_spark.functions.multimodal import decode_png, encode_png

        rng = np.random.default_rng(0)
        for c in (1, 2, 3, 4):
            arr = rng.integers(0, 256, size=(13, 9, c), dtype=np.uint8)
            out = decode_png(encode_png(arr))
            np.testing.assert_array_equal(out, arr)

    def test_all_filter_types_decode(self):
        """Hand-build a PNG whose rows use filters 1-4 (Sub/Up/Avg/Paeth)
        to exercise the un-predictor beyond the writer's filter-0 rows."""
        import binascii
        import struct
        import zlib

        import numpy as np

        from edspdf_spark.functions.multimodal import _PNG_SIG, decode_png

        w, h, c = 6, 5, 3
        rng = np.random.default_rng(1)
        img = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
        raw = bytearray()
        prev = np.zeros(w * c, dtype=np.int16)
        for y in range(h):
            row = img[y].reshape(-1).astype(np.int16)
            ft = y % 5
            if ft == 0:
                enc = row.copy()
            elif ft == 1:  # Sub
                left = np.concatenate([np.zeros(c, np.int16), row[:-c]])
                enc = (row - left) % 256
            elif ft == 2:  # Up
                enc = (row - prev) % 256
            elif ft == 3:  # Average
                left = np.concatenate([np.zeros(c, np.int16), row[:-c]])
                enc = (row - ((left + prev) // 2)) % 256
            else:  # Paeth
                left = np.concatenate([np.zeros(c, np.int16), row[:-c]])
                ul = np.concatenate([np.zeros(c, np.int16), prev[:-c]])
                p = left + prev - ul
                pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
                )
                enc = (row - pred) % 256
            raw += bytes([ft]) + bytes(enc.astype(np.uint8))
            prev = row

        def chunk(tag, body):
            crc = binascii.crc32(tag + body) & 0xFFFFFFFF
            return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

        png = (
            _PNG_SIG
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )
        np.testing.assert_array_equal(decode_png(png), img)

    def test_unsupported_pngs_raise(self):
        import struct
        import zlib
        import binascii

        import pytest

        from edspdf_spark.functions.multimodal import _PNG_SIG, decode_png

        def chunk(tag, body):
            crc = binascii.crc32(tag + body) & 0xFFFFFFFF
            return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

        pal = (
            _PNG_SIG
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00\x00\x00\x00"))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="unsupported PNG"):
            decode_png(pal)
        with pytest.raises(ValueError, match="not a PNG"):
            decode_png(b"JUNK")

    def test_decode_image_pixels_stage(self, spark):
        """Arrow stage: PNG decodes natively, the synthetic IMG0 container
        passes its plane through, corrupt/unknown rows survive as NULL
        pixels (poison-pill tolerance)."""
        import numpy as np

        from edspdf_spark.functions.multimodal import (
            decode_image_pixels,
            encode_image,
            encode_png,
        )

        rng = np.random.default_rng(2)
        arr = rng.integers(0, 256, size=(4, 7, 3), dtype=np.uint8)
        png = encode_png(arr)
        img0 = encode_image(2, 2, 1, b"\x01\x02\x03\x04")
        rows = [
            (1, bytearray(png)),
            (2, bytearray(img0)),
            (3, bytearray(b"\xff\xd8\xff\xe0 jpeg-ish")),
            (4, bytearray(b"garbage")),
            (5, bytearray(png[:30])),  # truncated PNG → corrupt
        ]
        df = spark.createDataFrame(rows, "doc_id long, media binary")
        out = {r["doc_id"]: r for r in decode_image_pixels(df).collect()}
        assert out[1]["codec"] == "png" and out[1]["px_w"] == 7 and out[1]["px_h"] == 4
        got = np.frombuffer(bytes(out[1]["pixels"]), dtype=np.uint8).reshape(4, 7, 3)
        np.testing.assert_array_equal(got, arr)
        assert out[2]["codec"] == "img0" and bytes(out[2]["pixels"]) == b"\x01\x02\x03\x04"
        assert out[3]["codec"] == "jpeg" and out[3]["pixels"] is None  # no PIL
        assert out[4]["codec"] == "unknown" and out[4]["pixels"] is None
        assert out[5]["codec"] == "corrupt"


# --- perceptual dHash dedup -------------------------------------------------


def _dhash_replica(w, h, c, payload, hash_w=8, hash_h=8):
    import numpy as np

    px = np.frombuffer(payload[: w * h * c], dtype=np.uint8).reshape(h, w, c)
    inten = px.astype(np.int64).sum(axis=2)
    xs = [(i * w) // (hash_w + 1) for i in range(hash_w + 2)]
    ys = [(j * h) // hash_h for j in range(hash_h + 1)]
    v = 0
    for j in range(hash_h):
        for i in range(hash_w):
            b1 = inten[ys[j]:ys[j + 1], xs[i]:xs[i + 1]]
            b2 = inten[ys[j]:ys[j + 1], xs[i + 1]:xs[i + 2]]
            if int(b1.sum()) * b2.size > int(b2.sum()) * b1.size:
                v |= 1 << (j * hash_w + i)
    return v >> 32, v & 0xFFFFFFFF


def test_image_dhash_matches_replica_and_nulls(spark):
    import struct

    import numpy as np

    from edspdf_spark.functions.multimodal import _PNG_SIG, encode_image, encode_png, image_dhash

    rng = np.random.default_rng(7)
    rows = []
    expect = {}
    for did, (w, h, c) in enumerate([(36, 24, 3), (9, 8, 1), (64, 64, 1)]):
        payload = rng.integers(0, 256, size=w * h * c, dtype=np.uint8).tobytes()
        rows.append((did, encode_image(w, h, c, payload)))
        expect[did] = _dhash_replica(w, h, c, payload)
    rows.append((90, encode_image(4, 4, 1, b"\x00" * 16)))  # too small -> NULL
    rows.append((91, b"JUNK"))                               # corrupt -> NULL
    rows.append((92, encode_image(36, 24, 3, b"\x01" * 10)))  # truncated -> NULL
    # corrupt PNGs raise zlib.error / struct.error, not ValueError
    png = encode_png(rng.integers(0, 256, size=(24, 36), dtype=np.uint8))
    idat = png.index(b"IDAT") + 4
    rows.append((93, png[:idat] + b"\xff" * 8 + png[idat + 8 :]))  # corrupt IDAT
    rows.append((94, _PNG_SIG + struct.pack(">I", 13) + b"IHDR" + b"\x00" * 4))  # IHDR cut short
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {r.doc_id: (r.dhash_hi, r.dhash_lo) for r in image_dhash(df).collect()}
    for did, hl in expect.items():
        assert got[did] == hl, did
    for did in (90, 91, 92, 93, 94):
        assert got[did] == (None, None)


def test_dhash_candidate_pairs_near_and_far(spark):
    import numpy as np

    from edspdf_spark.functions.multimodal import (
        dhash_candidate_pairs,
        encode_image,
        image_dhash,
    )

    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, size=40 * 24, dtype=np.uint8)
    tweaked = base.copy()
    tweaked[:8] = (tweaked[:8].astype(int) + 3).astype(np.uint8)  # tiny edit
    other = rng.integers(0, 256, size=40 * 24, dtype=np.uint8)
    df = spark.createDataFrame(
        [
            (1, encode_image(40, 24, 1, base.tobytes())),
            (2, encode_image(40, 24, 1, base.tobytes())),   # exact dup
            (3, encode_image(40, 24, 1, tweaked.tobytes())),  # near dup
            (4, encode_image(40, 24, 1, other.tobytes())),  # unrelated
        ],
        "doc_id long, media binary",
    )
    hashes = image_dhash(df)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dhash_candidate_pairs(hashes, max_hamming=8, n_bands=16).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and 0 <= pairs[(1, 3)] <= 8
    assert (1, 4) not in pairs and (2, 4) not in pairs
    # partitioning invariance of the whole path
    again = {
        (r.id_a, r.id_b): r.hamming
        for r in dhash_candidate_pairs(
            image_dhash(df.repartition(8)), max_hamming=8, n_bands=16
        ).collect()
    }
    assert again == pairs


def test_byte_histogram_non_power_of_two_bins(spark):
    """n_bins that is not a power of two still yields EXACTLY n_bins
    buckets (the next-pow2 shift returned up to 2×n_bins)."""
    from edspdf_spark.functions.multimodal import with_byte_histogram

    df = spark.createDataFrame(
        [(1, bytes(range(256)))], "doc_id long, media binary"
    )
    row = with_byte_histogram(df, n_bins=10).collect()[0]
    assert len(row.byte_hist) == 10
    assert abs(sum(row.byte_hist) - 1.0) < 1e-12
    # uniform bytes: bucket k holds len([b: b*10>>8 == k]) / 256
    import numpy as np

    expect = np.bincount((np.arange(256) * 10) >> 8, minlength=10) / 256.0
    assert row.byte_hist == list(expect)


def test_dhash_pairs_banding_guarantee_enforced(spark):
    """max_hamming beyond the pigeonhole guarantee (n_bands-1) raises
    instead of silently under-recalling."""
    import pytest as _pytest

    from edspdf_spark.functions.multimodal import dhash_candidate_pairs

    hashes = spark.createDataFrame(
        [(1, 0, 0)], "doc_id long, dhash_hi long, dhash_lo long"
    )
    with _pytest.raises(ValueError, match="banding guarantee"):
        dhash_candidate_pairs(hashes, max_hamming=4, n_bands=4)
    with _pytest.raises(ValueError, match="n_bands"):
        dhash_candidate_pairs(hashes, max_hamming=2, n_bands=5)


def test_image_dhash_string_ids(spark):
    from edspdf_spark.functions.multimodal import encode_image, image_dhash

    import numpy as np

    px = np.arange(40 * 24, dtype=np.uint8)
    df = spark.createDataFrame(
        [("img-a", encode_image(40, 24, 1, px.tobytes()))],
        "doc_id string, media binary",
    )
    r = image_dhash(df).collect()[0]
    assert r.doc_id == "img-a" and r.dhash_hi is not None


def test_image_dhash_real_codec_bytes_match_container(spark):
    """PNG / JPEG-free check: a WebP (and PNG) encoding of the same pixel
    grid must hash to the SAME 64 bits as the typed container — decoded
    RGBA intensity is 3v+255 per pixel, an order-preserving map of the
    grayscale source, so every cross-multiplied comparison is unchanged.
    Undecodable real-codec bytes (lossy VP8) keep NULL halves."""
    import struct as _struct

    import numpy as np

    from edspdf_spark.functions.multimodal import encode_image, image_dhash
    from edspdf_spark.kernel.webp import encode_webp_lossless

    # 97-stride wraps mod 251 inside every row, so the hash has both 0
    # and 1 bits — the cross-codec equality below is a 64-bit check, not
    # a zeros-equal-zeros tautology
    payload = bytes((x * 97 + y * 13) % 251 for y in range(8) for x in range(9))
    g = np.frombuffer(payload, np.uint8).reshape(8, 9)
    container = encode_image(9, 8, 1, payload)
    webp = encode_webp_lossless(np.stack([g] * 3, -1))
    lossy = (
        b"RIFF" + _struct.pack("<I", 16) + b"WEBP"
        + b"VP8 " + _struct.pack("<I", 4) + b"\x00\x01\x02\x03"
    )
    df = spark.createDataFrame(
        [(0, bytearray(container)), (1, bytearray(webp)), (2, bytearray(lossy))],
        "doc_id long, media binary",
    )
    rows = {r.doc_id: r for r in image_dhash(df).collect()}
    assert rows[0].dhash_hi is not None
    assert (rows[0].dhash_hi, rows[0].dhash_lo) != (0, 0)
    assert (rows[1].dhash_hi, rows[1].dhash_lo) == (
        rows[0].dhash_hi, rows[0].dhash_lo,
    )
    assert rows[2].dhash_hi is None and rows[2].dhash_lo is None


def test_media_meta_real_codec_headers():
    """with_media_meta reads real codec headers a crawl carries — PNG
    IHDR, JPEG SOFn (past APPn/DQT segments), WebP VP8L/VP8/VP8X, GIF —
    header-only, no entropy decode."""
    import struct as _s
    import zlib

    import numpy as np

    from edspdf_spark.functions.multimodal import _PNG_SIG, _parse_one, encode_png
    from edspdf_spark.kernel.jpeg import encode_jpeg
    from edspdf_spark.kernel.webp import encode_webp_lossless

    arr = np.arange(60, dtype=np.uint8).reshape(4, 5, 3)

    m = _parse_one(encode_png(arr))
    assert (m["media_type"], m["width"], m["height"], m["channels"]) == (
        "image", 5, 4, 3,
    )
    # palette (colour type 3), the common web PNG: one index sample/pixel
    ihdr = b"IHDR" + _s.pack(">IIBBBBB", 5, 4, 8, 3, 0, 0, 0)
    m = _parse_one(
        _PNG_SIG + _s.pack(">I", 13) + ihdr + _s.pack(">I", zlib.crc32(ihdr))
    )
    assert (m["media_type"], m["width"], m["height"], m["channels"]) == (
        "image", 5, 4, 1,
    )
    m = _parse_one(encode_jpeg(arr, quality=80))
    assert (m["media_type"], m["width"], m["height"], m["channels"]) == (
        "image", 5, 4, 3,
    )
    m = _parse_one(encode_webp_lossless(arr))
    assert (m["width"], m["height"], m["channels"]) == (5, 4, 3)
    rgba = np.dstack([arr, np.full((4, 5), 7, np.uint8)])
    assert _parse_one(encode_webp_lossless(rgba))["channels"] == 4

    # fill bytes may precede any marker; the walk must step over them
    jpg = encode_jpeg(arr, quality=80)
    sof = jpg.index(b"\xff\xc0")
    m = _parse_one(jpg[:sof] + b"\xff\xff" + jpg[sof:])
    assert (m["width"], m["height"], m["channels"]) == (5, 4, 3)
    # EOI before any SOFn ends the image: trailing bytes are not a frame
    m = _parse_one(
        b"\xff\xd8\xff\xd9\x00\x02" + jpg[sof : sof + 12] + b"\x00" * 8
    )
    assert (m["width"], m["height"], m["channels"]) == (None, None, None)

    vp8 = (
        b"RIFF" + _s.pack("<I", 30) + b"WEBP" + b"VP8 " + _s.pack("<I", 12)
        + b"\x00" * 3 + b"\x9d\x01\x2a" + _s.pack("<HH", 640, 480) + b"\x00\x00"
    )
    m = _parse_one(vp8)
    assert (m["width"], m["height"], m["channels"]) == (640, 480, 3)

    vp8x = (
        b"RIFF" + _s.pack("<I", 22) + b"WEBP" + b"VP8X" + _s.pack("<I", 10)
        + bytes([0x10]) + b"\x00" * 3
        + (799).to_bytes(3, "little") + (599).to_bytes(3, "little")
    )
    m = _parse_one(vp8x)
    assert (m["width"], m["height"], m["channels"]) == (800, 600, 4)

    gif = b"GIF89a" + _s.pack("<HH", 320, 200) + b"\x00" * 4
    m = _parse_one(gif)
    assert (m["width"], m["height"], m["channels"]) == (320, 200, 3)

    # truncated headers degrade to type-only/None, never raise
    for blob in (b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff", b"RIFF1234WEBP",
                 b"GIF89a", None, b""):
        _parse_one(blob)
