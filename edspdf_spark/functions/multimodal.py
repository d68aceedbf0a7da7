"""Multimodal (image/audio/video) columns as opaque ``binary`` + typed metadata.

The reference pipeline renders page images for its torch branch
(``edspdf/pipes/extractors/pdfminer.py:186-192``, ``structures.py:102-111``)
but has no general media handling; a 100 TB training-data pipeline does.
Pattern: media rides as an opaque ``BinaryType`` column; decode /
feature-extract / resize / frame-sample are Arrow-batched ``mapInPandas``
stages so payload bytes never cross a Python row-at-a-time boundary.

Container formats here are deterministic stand-ins (documented below); the
Spark-side plumbing — schema, UDF signature, batch shape, partition
expansion for frame sampling — is real and tested. ``decode_image_pixels``
is a real decode stage: **PNG decodes natively** (stdlib zlib + the PDF
engine's PNG row un-predictor, 8-bit gray/GA/RGB/RGBA), **baseline AND progressive JPEG
decode natively** (``kernel/jpeg.py`` — T.81 baseline + Annex-G
progressive Huffman, 1/3 components, sampling factors to 2×2, restart
markers, EOB runs), the synthetic container passes its plane through,
and the leftover classes (WebP, arithmetic JPEG, …) degrade to NULL
pixels + a ``codec`` tag — optionally via PIL when it exists — instead
of killing the partition.

Header layouts (big-endian)::

    IMG0 | width u32 | height u32 | channels u8 | payload…
    AUD0 | sample_rate u32 | n_samples u32 | payload…
    VID0 | width u32 | height u32 | n_frames u32 | fps_milli u32 | payload…
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAGIC_IMAGE = b"IMG0"
MAGIC_AUDIO = b"AUD0"
MAGIC_VIDEO = b"VID0"

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("fps_milli", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)


# ---------------------------------------------------------------------------
# encoders (test/fixture side)
# ---------------------------------------------------------------------------

def encode_image(width: int, height: int, channels: int, payload: bytes = b"") -> bytes:
    return MAGIC_IMAGE + struct.pack(">IIB", width, height, channels) + payload


def encode_audio(sample_rate: int, n_samples: int, payload: bytes = b"") -> bytes:
    return MAGIC_AUDIO + struct.pack(">II", sample_rate, n_samples) + payload


def encode_video(
    width: int, height: int, n_frames: int, fps_milli: int, payload: bytes = b""
) -> bytes:
    return MAGIC_VIDEO + struct.pack(">IIII", width, height, n_frames, fps_milli) + payload


# PNG colour type → samples per pixel (3 = palette: one index sample)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _parse_one(blob: Optional[bytes]) -> dict:
    """Header-only meta: the synthetic typed containers AND the real
    codec headers a crawl actually carries — PNG IHDR, JPEG SOFn,
    WebP (VP8L dims / VP8 key-frame dims / VP8X canvas), GIF logical
    screen. Header parsing only (no entropy decode), so the meta pass
    stays O(bytes-read ≈ 32) per blob at any corpus size."""
    out = dict.fromkeys([f.name for f in MEDIA_META_SCHEMA.fields])
    out["n_bytes"] = 0 if blob is None else len(blob)
    if blob is None or len(blob) < 4:
        return out
    b = bytes(blob)
    magic = b[:4]
    try:
        if magic == MAGIC_IMAGE and len(b) >= 13:
            w, h, c = struct.unpack(">IIB", b[4:13])
            out.update(media_type="image", width=w, height=h, channels=c)
        elif magic == MAGIC_AUDIO and len(b) >= 12:
            sr, ns = struct.unpack(">II", b[4:12])
            out.update(media_type="audio", sample_rate=sr, n_samples=ns)
        elif magic == MAGIC_VIDEO and len(b) >= 20:
            w, h, nf, fm = struct.unpack(">IIII", b[4:20])
            out.update(
                media_type="video", width=w, height=h, n_frames=nf, fps_milli=fm
            )
        elif b[:8] == _PNG_SIG and len(b) >= 26 and b[12:16] == b"IHDR":
            w, h = struct.unpack(">II", b[16:24])
            ctype = b[25]
            out.update(
                media_type="image", width=w, height=h,
                channels=_PNG_CHANNELS.get(ctype),
            )
        elif b[:2] == b"\xff\xd8":
            # walk the segment chain to the first SOFn frame header
            pos = 2
            while pos + 9 < len(b) and b[pos] == 0xFF:
                marker = b[pos + 1]
                if marker == 0xFF:  # fill byte before a marker
                    pos += 1
                    continue
                if marker in (0xD9, 0xDA):  # EOI / SOS: no frame header
                    break
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    pos += 2
                    continue
                seg_len = struct.unpack(">H", b[pos + 2 : pos + 4])[0]
                if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                              0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                    h, w = struct.unpack(">HH", b[pos + 5 : pos + 9])
                    out.update(
                        media_type="image", width=w, height=h,
                        channels=b[pos + 9],
                    )
                    break
                pos += 2 + seg_len
        elif magic == b"RIFF" and len(b) >= 30 and b[8:12] == b"WEBP":
            tag = b[12:16]
            if tag == b"VP8L" and b[20] == 0x2F:
                bits = struct.unpack("<I", b[21:25])[0]
                out.update(
                    media_type="image",
                    width=(bits & 0x3FFF) + 1,
                    height=((bits >> 14) & 0x3FFF) + 1,
                    channels=4 if (bits >> 28) & 1 else 3,
                )
            elif tag == b"VP8 " and b[23:26] == b"\x9d\x01\x2a":
                w, h = struct.unpack("<HH", b[26:30])
                out.update(
                    media_type="image", width=w & 0x3FFF, height=h & 0x3FFF,
                    channels=3,
                )
            elif tag == b"VP8X":
                flags = b[20]
                w = int.from_bytes(b[24:27], "little") + 1
                h = int.from_bytes(b[27:30], "little") + 1
                out.update(
                    media_type="image", width=w, height=h,
                    channels=4 if flags & 0x10 else 3,
                )
        elif b[:4] in (b"GIF8",) and len(b) >= 10:
            w, h = struct.unpack("<HH", b[6:10])
            out.update(media_type="image", width=w, height=h, channels=3)
    except (struct.error, IndexError):
        pass
    return out


# ---------------------------------------------------------------------------
# decode / feature-extract / resize / frame-sample operators
# ---------------------------------------------------------------------------

def with_media_meta(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Typed-metadata decode: binary header → meta columns, Arrow-batched."""
    passthrough = [f for f in df.schema.fields if f.name != media_col]
    out_schema = T.StructType(list(passthrough) + list(MEDIA_META_SCHEMA.fields))
    pass_names = [f.name for f in passthrough]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pd.DataFrame(
                [_parse_one(b) for b in pdf[media_col]],
                columns=[f.name for f in MEDIA_META_SCHEMA.fields],
            )
            yield pd.concat(
                [pdf[pass_names].reset_index(drop=True), meta], axis=1
            )

    return df.mapInPandas(decode, schema=out_schema)


def with_byte_histogram(
    df: DataFrame, media_col: str = "media", n_bins: int = 16, skip_header: int = 0
) -> DataFrame:
    """Deterministic feature extraction (the modality-agnostic baseline
    "embedding"): normalized ``n_bins``-bin histogram over payload bytes.
    One ``np.bincount`` per row over a zero-copy ``frombuffer`` view — no
    per-byte Python."""
    if not 1 <= int(n_bins) <= 256:
        raise ValueError("n_bins must be in [1, 256]")
    n_bins = int(n_bins)
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("byte_hist", T.ArrayType(T.DoubleType()), False)]
    )

    def feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hists = []
            for blob in pdf[media_col]:
                body = b"" if blob is None else bytes(blob[skip_header:])
                arr = np.frombuffer(body, dtype=np.uint8)
                # byte*n_bins >> 8 buckets into EXACTLY n_bins bins for any
                # n_bins (identical to the old power-of-two shift when
                # n_bins is one; a next-pow2 shift returned up to 2×n_bins
                # bins for e.g. n_bins=10)
                counts = np.bincount(
                    (arr.astype(np.int32) * n_bins) >> 8, minlength=n_bins
                ).astype(np.float64)
                total = counts.sum()
                hists.append(list(counts / (total if total else 1.0)))
            yield pdf.assign(byte_hist=hists)

    return df.mapInPandas(feat, schema=out_schema)


def resize_plan(
    df: DataFrame, max_side: int = 224
) -> DataFrame:
    """Aspect-preserving resize TARGETS from decoded meta — pure column
    expressions (the arithmetic is relational; only pixel resampling needs a
    codec). Adds ``target_w``/``target_h``/``scale``."""
    scale = F.when(
        F.greatest("width", "height") <= max_side, F.lit(1.0)
    ).otherwise(F.lit(float(max_side)) / F.greatest("width", "height"))
    return (
        df.withColumn("scale", scale)
        .withColumn("target_w", F.greatest(F.round(F.col("width") * scale).cast("int"), F.lit(1)))
        .withColumn("target_h", F.greatest(F.round(F.col("height") * scale).cast("int"), F.lit(1)))
    )


def sample_frame_indices(
    df: DataFrame, every_n: int = 10, max_frames: int = 8
) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled frame index
    (uniform stride, capped) — ``sequence`` + ``explode``, no UDF. The frame
    DECODE step is the stubbed part (``decode_image_pixels``); the partition
    expansion and schema are the real contract."""
    idx = F.sequence(
        F.lit(0),
        F.least(F.col("n_frames") - 1, F.lit(every_n * (max_frames - 1))),
        F.lit(every_n),
    )
    return (
        # n_frames > 0 guard: a parseable-but-empty video header would make
        # sequence(0, -1, +step) throw 'Illegal sequence boundaries' and one
        # malformed row would kill the whole stage
        df.filter((F.col("media_type") == "video") & (F.col("n_frames") > 0))
        .withColumn("frame_idx", F.explode(idx))
        .withColumn(
            "frame_ts_milli",
            (F.col("frame_idx") * F.lit(1000.0) * F.lit(1000.0)
             / F.col("fps_milli")).cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# real codec: PNG (pure stdlib — zlib inflate + PNG row un-predict)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(arr: "np.ndarray") -> bytes:
    """uint8 (H, W) / (H, W, 3) / (H, W, 4) → PNG bytes (filter 0 rows,
    one zlib IDAT). Stdlib-only writer for fixtures and sinks."""
    import binascii
    import zlib

    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def chunk(tag: bytes, body: bytes) -> bytes:
        crc = binascii.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_png(data: bytes):
    """PNG bytes → uint8 ndarray (H, W, C). Supports 8-bit gray / gray+A /
    RGB / RGBA, non-interlaced (the overwhelming majority of training-data
    PNGs); palette/16-bit/interlaced raise ValueError. Reuses the PDF
    engine's PNG row un-predictor (all five filter types)."""
    import zlib

    from edspdf_spark.kernel.pdf import _png_unpredict

    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    ctype = depth = interlace = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("PNG without IHDR")
    if depth != 8 or ctype == 3 or ctype not in _PNG_CHANNELS or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth}, color_type={ctype}, "
            f"interlace={interlace}): 8-bit non-interlaced gray/GA/RGB/RGBA only"
        )
    channels = _PNG_CHANNELS[ctype]
    raw = _png_unpredict(zlib.decompress(bytes(idat)), channels, 8, width)
    arr = np.frombuffer(raw, dtype=np.uint8)
    if len(arr) != width * height * channels:
        raise ValueError("PNG pixel payload size mismatch")
    return arr.reshape(height, width, channels)


def decode_image_pixels(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Pixel decode as an Arrow-batched stage: PNG, baseline and
    progressive JPEG, and lossless WebP (VP8L) decode NATIVELY (stdlib
    zlib + the engine's PNG un-predictor; ``kernel/jpeg.py`` for T.81
    baseline + Annex-G progressive; ``kernel/webp.py`` for the VP8L
    bitstream with all four transforms — no imaging library needed);
    lossy-VP8 WebP / arithmetic-coded JPEG / other codecs decode via PIL
    when available, else their rows come back with ``codec`` set and NULL
    pixels so the pipeline can route or quarantine them (poison-pill
    tolerance — one undecodable blob must never kill a partition).

    Output per row: ``codec, px_w, px_h, px_c, pixels`` (row-major uint8
    plane as binary).
    """
    schema = T.StructType(
        [
            T.StructField("codec", T.StringType(), True),
            T.StructField("px_w", T.IntegerType(), True),
            T.StructField("px_h", T.IntegerType(), True),
            T.StructField("px_c", T.IntegerType(), True),
            T.StructField("pixels", T.BinaryType(), True),
        ]
    )
    out_schema = T.StructType(df.schema.fields + schema.fields)

    try:
        import PIL.Image as _pil  # noqa: N813
    except ImportError:
        _pil = None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            codecs, ws, hs, cs, px = [], [], [], [], []
            for blob in pdf[media_col]:
                codec = w = h = c = None
                pixels = None
                try:
                    b = bytes(blob) if blob is not None else b""
                    if b[:8] == _PNG_SIG:
                        codec = "png"
                        arr = decode_png(b)
                        h, w, c = arr.shape
                        pixels = arr.tobytes()
                    elif b[:2] == b"\xff\xd8":
                        codec = "jpeg"
                        try:
                            # native baseline decoder (stdlib+NumPy) — the
                            # dominant crawl-JPEG class needs no library
                            from edspdf_spark.kernel.jpeg import decode_jpeg

                            arr = decode_jpeg(b)
                            h, w = arr.shape[:2]
                            c = arr.shape[2] if arr.ndim == 3 else 1
                            pixels = arr.tobytes()
                        except ValueError:
                            # arithmetic/12-bit/CMYK (or truncated):
                            # route to PIL when present, else keep the
                            # codec tag with NULL pixels
                            if _pil is not None:  # pragma: no cover - no PIL here
                                import io

                                arr = np.asarray(_pil.open(io.BytesIO(b)))
                                h, w = arr.shape[:2]
                                c = arr.shape[2] if arr.ndim == 3 else 1
                                pixels = arr.tobytes()
                    elif b[:4] == b"RIFF" and b[8:12] == b"WEBP":
                        codec = "webp"
                        try:
                            # native VP8L (lossless) decoder — stdlib +
                            # NumPy, kernel/webp.py; lossy VP8 raises
                            from edspdf_spark.kernel.webp import decode_webp

                            arr = decode_webp(b)
                            h, w = arr.shape[:2]
                            c = arr.shape[2]
                            pixels = arr.tobytes()
                        except ValueError:
                            # lossy VP8 (bool-coder) or truncated: PIL
                            # when present, else codec tag + NULL pixels
                            if _pil is not None:  # pragma: no cover - no PIL here
                                import io

                                arr = np.asarray(_pil.open(io.BytesIO(b)))
                                h, w = arr.shape[:2]
                                c = arr.shape[2] if arr.ndim == 3 else 1
                                pixels = arr.tobytes()
                    elif b[:4] == MAGIC_IMAGE:
                        # synthetic container: payload bytes ARE the plane
                        codec = "img0"
                        meta = _parse_one(b)
                        w, h, c = meta["width"], meta["height"], meta["channels"]
                        plane = b[13:]
                        need = (w or 0) * (h or 0) * (c or 0)
                        pixels = plane[:need] if len(plane) >= need else None
                    else:
                        codec = "unknown"
                except Exception:
                    codec, w, h, c, pixels = "corrupt", None, None, None, None
                codecs.append(codec)
                ws.append(w)
                hs.append(h)
                cs.append(c)
                px.append(pixels)
            pdf = pdf.copy()
            pdf["codec"] = codecs
            pdf["px_w"] = pd.array(ws, dtype="Int32")
            pdf["px_h"] = pd.array(hs, dtype="Int32")
            pdf["px_c"] = pd.array(cs, dtype="Int32")
            pdf["pixels"] = pd.Series(px, dtype=object)
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# perceptual dedup (dHash)
# ---------------------------------------------------------------------------

def image_dhash(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    hash_w: int = 8,
    hash_h: int = 8,
) -> DataFrame:
    """Perceptual difference-hash over the typed image container —
    dHash (public algorithm, Krawetz 2013): intensity = per-pixel CHANNEL
    SUM (exact integer, no float grayscale), mean-pool onto a
    ``(hash_w+1)×hash_h`` cell grid with exact integer cell sums, and
    ``bit(x,y) = 1 iff S(x)·n(x+1) > S(x+1)·n(x)`` — cross-multiplied so
    NO division or float appears anywhere: the hash is bit-identical on
    every engine, partitioning, and retry, and a SQL oracle can replay
    it from the pixel function.

    Returns ``(id, dhash_hi, dhash_lo)`` — the 64 bits split into two
    32-bit halves carried in BIGINT (``hi`` = bits 32..63), so banding
    and XOR never touch the int64 sign bit. NULL halves for non-image /
    corrupt / too-small blobs (smaller than the cell grid).

    Accepts the typed container AND real codec bytes: PNG, baseline /
    progressive JPEG and lossless WebP route through the native kernel
    decoders (no imaging library), so a crawl's image column hashes
    directly; undecodable blobs (lossy VP8, arithmetic JPEG, corrupt)
    keep NULL halves. Intensity is the per-pixel channel sum, so a
    decoded RGBA plane (constant alpha 255) produces the same bits as
    its RGB source — the comparison is translation-invariant.

    Near-dup images differ in a few bits; pair generation is
    :func:`dhash_candidate_pairs`. One Arrow ``mapInPandas`` stage, zero
    shuffle.
    """
    n_bits = hash_w * hash_h
    if n_bits != 64:
        raise ValueError("hash_w*hash_h must be 64 (two 32-bit halves)")

    def dhash_bits(px: np.ndarray):
        h, w = px.shape[:2]
        if w < hash_w + 1 or h < hash_h:
            return None, None
        inten = px.astype(np.int64).sum(axis=2) if px.ndim == 3 else px.astype(np.int64)
        xs = [(i * w) // (hash_w + 1) for i in range(hash_w + 2)]
        ys = [(j * h) // hash_h for j in range(hash_h + 1)]
        s = np.zeros((hash_h, hash_w + 1), dtype=np.int64)
        n = np.zeros((hash_h, hash_w + 1), dtype=np.int64)
        for j in range(hash_h):
            for i in range(hash_w + 1):
                block = inten[ys[j]:ys[j + 1], xs[i]:xs[i + 1]]
                s[j, i] = int(block.sum())
                n[j, i] = block.size
        v = 0
        for j in range(hash_h):
            for i in range(hash_w):
                if s[j, i] * n[j, i + 1] > s[j, i + 1] * n[j, i]:
                    v |= 1 << (j * hash_w + i)
        return v >> 32, v & 0xFFFFFFFF

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            his, los = [], []
            for blob in pdf[media_col]:
                hi = lo = None
                b = bytes(blob) if blob is not None else b""
                if len(b) >= 13 and b[:4] == MAGIC_IMAGE:
                    w, h, c = struct.unpack(">IIB", b[4:13])
                    need = w * h * c
                    if c >= 1 and len(b) >= 13 + need:
                        px = np.frombuffer(b[13 : 13 + need], dtype=np.uint8).reshape(
                            h, w, c
                        )
                        hi, lo = dhash_bits(px)
                elif len(b) >= 12:
                    try:
                        if b[:8] == _PNG_SIG:
                            hi, lo = dhash_bits(decode_png(b))
                        elif b[:2] == b"\xff\xd8":
                            from edspdf_spark.kernel.jpeg import decode_jpeg

                            arr = decode_jpeg(b)
                            if arr.ndim == 2:
                                arr = arr[:, :, None]
                            hi, lo = dhash_bits(arr)
                        elif b[:4] == b"RIFF" and b[8:12] == b"WEBP":
                            from edspdf_spark.kernel.webp import decode_webp

                            hi, lo = dhash_bits(decode_webp(b))
                    except Exception:
                        # zlib.error / struct.error from corrupt bytes too:
                        # a bad image is a NULL hash, never a dead task
                        hi = lo = None
                his.append(hi)
                los.append(lo)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "dhash_hi": pd.array(his, dtype="Int64"),
                    "dhash_lo": pd.array(los, dtype="Int64"),
                }
            )

    # id column keeps its native Spark type — string document keys must
    # not be forced through a bigint field
    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, media_col).mapInPandas(
        run, f"{id_col} {id_type}, dhash_hi bigint, dhash_lo bigint"
    )


def dhash_candidate_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int = 10_000,
    n_bands: int = 4,
) -> DataFrame:
    """Near-dup image pairs from dHash halves: band the 64 bits into
    ``n_bands`` equal buckets (the SimHash/LSH banding argument: a pair
    within Hamming distance ≤ ``n_bands − 1`` differs in fewer bands
    than there are bands, so by pigeonhole it shares at least one band
    exactly), bucket-join candidates, then EXACT Hamming rescore
    (``bit_count(xor)``) and the ``max_hamming`` gate. Returns
    ``(id_a, id_b, hamming)``.

    ``max_hamming`` MUST be ≤ ``n_bands − 1`` — beyond that the banding
    cannot guarantee the pair ever becomes a candidate and the gate
    would silently under-report (raise, don't miss). Raising ``n_bands``
    widens the guarantee but coarsens the buckets (band width
    ``64/n_bands`` bits → ``2^width`` distinct buckets), so bucket
    occupancy grows and more buckets hit ``max_bucket_size``: 4×16-bit
    is the selective default; 8×8-bit reaches distance 7 at ~256
    buckets/band; 16×4-bit reaches 15 but is only usable on small
    corpora.

    Same scale shape as :func:`edspdf_spark.functions.dedup.
    lsh_candidate_pairs`: one (band, bucket)-keyed collect_list exchange
    with a hot-bucket cap, one pair-keyed distinct, a hash-table join
    back for the rescore — never a cross join.
    """
    if n_bands not in (2, 4, 8, 16, 32):
        raise ValueError("n_bands must be one of 2, 4, 8, 16, 32")
    if int(max_hamming) > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the banding guarantee "
            f"(n_bands - 1 = {n_bands - 1}): pairs at that distance may "
            "never share a band — raise n_bands instead"
        )
    width = 64 // n_bands
    h = hashes.where(
        F.col("dhash_hi").isNotNull() & F.col("dhash_lo").isNotNull()
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                (
                    F.shiftrightunsigned(
                        F.col("dhash_lo" if b * width < 32 else "dhash_hi"),
                        (b * width) % 32,
                    )
                    % F.lit(1 << width)
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    ex = h.select(F.col(id_col), F.explode(bands).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    buckets = (
        ex.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("_ids"))
        .filter(
            (F.size("_ids") >= 2) & (F.size("_ids") <= int(max_bucket_size))
        )
    )
    pair_arrays = F.filter(
        F.flatten(
            F.transform(
                F.col("_ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("_ids"), i + F.lit(2), F.size(F.col("_ids"))),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        ),
        lambda p: p["id_a"] < p["id_b"],
    )
    cand = (
        buckets.select(F.explode(pair_arrays).alias("_p"))
        .select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
        .distinct()
    )
    a = h.select(
        F.col(id_col).alias("id_a"),
        F.col("dhash_hi").alias("_ha"),
        F.col("dhash_lo").alias("_la"),
    )
    b = h.select(
        F.col(id_col).alias("id_b"),
        F.col("dhash_hi").alias("_hb"),
        F.col("dhash_lo").alias("_lb"),
    )
    ham = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))) + F.bit_count(
        F.col("_la").bitwiseXOR(F.col("_lb"))
    )
    return (
        cand.join(a, on="id_a")
        .join(b, on="id_b")
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= int(max_hamming))
        .select("id_a", "id_b", "hamming")
    )
