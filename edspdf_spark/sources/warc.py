"""WARC source/sink — the wire format of Common-Crawl-style page corpora.

The engine's input table (BASELINE.json input_hint) is
``(url, warc_ts, html, text, lang)`` — exactly the row shape Common Crawl
publishes as WARC *response* records (ISO 28500). This module closes the
loop to the wire format itself, stdlib-only:

* :func:`read_warc` — directory of ``*.warc`` / ``*.warc.gz`` files → the
  pages table, via one distributed ``binaryFile`` scan + an Arrow-batched
  ``mapInPandas`` parse (no driver-side file handling). Handles gzip
  (including the member-per-record convention), ``response`` records with
  full HTTP envelopes (status line, headers, ``Transfer-Encoding: chunked``
  de-chunking, ``Content-Length`` truncation), bare ``resource`` records,
  and skips ``warcinfo`` / ``request`` / ``metadata`` records — the record
  mix a real crawl file contains.
* :func:`pages_to_warc` / :func:`write_warc` — render a pages DataFrame
  back into spec-conformant, byte-deterministic WARC files (fixed-mtime
  gzip members, md5-derived record ids, records sorted by url within a
  file) so round-trip tests and fixtures need no randomness.
* :func:`sniff_charset` — BOM + ``<meta charset>`` detection for payload
  bytes whose encoding is *not* known up front (real crawls are ~10%%
  non-UTF-8); shared with the HTML extractor's ``charset="sniff"`` mode.

Scale notes: a WARC file is a sequential record stream, so one file parses
as one unit — per-file parallelism == the binaryFile scan's file
parallelism, the same contract the reference's one-task-per-file
``read_in_worker`` has for PDFs (``edspdf/data/files.py:85-107``). Common
Crawl shards crawls into ~1 GB WARCs precisely so this unit is a good task
size; ``spark.sql.files.maxPartitionBytes`` never splits a binary file, so
no record ever straddles tasks.
"""

from __future__ import annotations

import codecs
import datetime as _dt
import gzip
import hashlib
import io
import re
import zlib
from typing import Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from edspdf_spark.schemas import PAGES_SCHEMA

_CRLF2 = b"\r\n\r\n"


# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------

def _dechunk(body: bytes) -> bytes:
    """Decode an HTTP/1.1 chunked transfer-coding body."""
    out = bytearray()
    pos = 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            break
        try:
            size = int(body[pos:nl].split(b";", 1)[0], 16)
        except ValueError:
            break
        if size == 0:
            break
        out += body[nl + 2 : nl + 2 + size]
        pos = nl + 2 + size + 2  # skip chunk + its trailing CRLF
    return bytes(out)


def _http_payload(block: bytes) -> Optional[bytes]:
    """HTTP response envelope → entity body (None if not an HTTP message)."""
    if not block.startswith(b"HTTP/"):
        return None
    split = block.find(_CRLF2)
    if split < 0:
        return b""
    head = block[:split].lower()
    body = block[split + 4 :]
    if b"transfer-encoding:" in head and b"chunked" in head:
        return _dechunk(body)
    m = re.search(rb"content-length:\s*(\d+)", head)
    if m:
        return body[: int(m.group(1))]
    return body


def _parse_warc_date(value: str) -> Optional[_dt.datetime]:
    """``2024-01-01T00:02:17Z`` (WARC/1.0) or fractional (WARC/1.1)."""
    try:
        return _dt.datetime.fromisoformat(value.rstrip("Z"))
    except ValueError:
        return None


def iter_warc_records(data) -> Iterator[Tuple[dict, bytes]]:
    """Yield ``(headers, block)`` per record; headers keys lowercased.

    Accepts bytes or a binary file-like, plain or gzip — ``GzipFile``
    transparently concatenates the member-per-record layout crawlers
    write. The parse is STREAMING: at most one record's block is held at
    a time, never the whole decompressed file (a real ~1 GB gz crawl
    shard inflates ~5×; materializing it per task is the scale hazard
    this avoids — the compressed bytes are the only whole-file cost,
    fixed by the ``binaryFile`` scan itself).
    """
    f = io.BytesIO(data) if isinstance(data, (bytes, bytearray)) else data
    magic = f.read(2)
    f.seek(-len(magic), 1)
    if magic == b"\x1f\x8b":
        f = gzip.GzipFile(fileobj=f)
    while True:
        line = f.readline()
        while line in (b"\r\n", b"\n"):  # inter-record separators
            line = f.readline()
        if not line:
            break
        if not line.startswith(b"WARC/"):
            break  # not a record boundary — corrupt tail
        headers: dict = {}
        while True:
            hline = f.readline()
            if hline in (b"\r\n", b"\n", b""):
                break
            if b":" in hline:
                k, v = hline.split(b":", 1)
                headers[k.strip().lower().decode("utf-8", "replace")] = (
                    v.strip().decode("utf-8", "replace")
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            break
        block = f.read(length)
        if len(block) < length:
            break  # truncated file
        yield headers, block


def iter_warc_responses(
    data,
) -> Iterator[Tuple[str, Optional[_dt.datetime], bytes]]:
    """Stream ``(url, warc_ts, payload)`` for every ``response``/
    ``resource`` record (warcinfo/request/metadata skipped)."""
    for headers, block in iter_warc_records(data):
        rtype = headers.get("warc-type", "")
        url = headers.get("warc-target-uri")
        if url is None or rtype not in ("response", "resource"):
            continue
        if rtype == "response":
            payload = _http_payload(block)
            if payload is None:  # http envelope promised but absent
                payload = block
        else:
            payload = block
        ts = _parse_warc_date(headers.get("warc-date", ""))
        yield url, ts, payload


def read_warc(
    spark: SparkSession,
    path: str,
    glob: str = "*.warc*",
    recursive: bool = True,
    chunk_records: int = 2048,
) -> DataFrame:
    """S1/WARC — directory of WARC files → pages table (PAGES_SCHEMA).

    One ``binaryFile`` scan (a task per WARC file) + streaming parse that
    yields an Arrow batch every ``chunk_records`` records, so per-task
    memory is the compressed file + one chunk — never the inflated crawl
    shard. ``text``/``lang`` come back NULL — they are pipeline
    *outputs*, not crawl inputs.
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
    )

    def _frame(urls, tss, payloads) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "url": pd.Series(urls, dtype=object),
                "warc_ts": pd.Series(tss, dtype="datetime64[us]"),
                "html": pd.Series(payloads, dtype=object),
                "text": pd.Series([None] * len(urls), dtype=object),
                "lang": pd.Series([None] * len(urls), dtype=object),
            }
        )

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        empty = True
        for pdf in batches:
            for data in pdf["content"]:
                urls: list = []
                tss: list = []
                payloads: list = []
                for url, ts, payload in iter_warc_responses(io.BytesIO(data)):
                    urls.append(url)
                    tss.append(ts)
                    payloads.append(payload)
                    if len(urls) >= chunk_records:
                        empty = False
                        yield _frame(urls, tss, payloads)
                        urls, tss, payloads = [], [], []
                if urls:
                    empty = False
                    yield _frame(urls, tss, payloads)
        if empty:  # Arrow needs explicit dtypes on an empty partition
            yield _frame([], [], [])

    return files.select("content").mapInPandas(work, schema=PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# writing
# ---------------------------------------------------------------------------

def _fmt_warc_date(ts) -> str:
    if ts is None or ts != ts:  # None or NaT/NaN
        return "1970-01-01T00:00:00Z"
    ts = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
    if ts.microsecond:
        return ts.strftime("%Y-%m-%dT%H:%M:%S.%f").rstrip("0") + "Z"
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _record_id(url: str, date: str) -> str:
    h = hashlib.md5((url + "|" + date).encode("utf-8")).hexdigest()
    return f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"


def _response_record(url: str, ts, payload: bytes) -> bytes:
    date = _fmt_warc_date(ts)
    http = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html\r\n"
        b"Content-Length: " + str(len(payload)).encode() + _CRLF2 + payload
    )
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Record-ID: {_record_id(url, date)}\r\n"
        f"WARC-Date: {date}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode("utf-8")
    return head + http + _CRLF2


def _warcinfo_record(name: str, date: str) -> bytes:
    info = b"software: edspdf-spark\r\nformat: WARC File Format 1.0\r\n"
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: warcinfo\r\n"
        f"WARC-Record-ID: {_record_id('warcinfo:' + name, date)}\r\n"
        f"WARC-Date: {date}\r\n"
        f"WARC-Filename: {name}\r\n"
        "Content-Type: application/warc-fields\r\n"
        f"Content-Length: {len(info)}\r\n\r\n"
    ).encode("utf-8")
    return head + info + _CRLF2


def _gzip_member(raw: bytes) -> bytes:
    """One deterministic gzip member (mtime=0, no filename) per record —
    the crawler convention that lets readers seek to record offsets."""
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", compresslevel=6, mtime=0) as gz:
        gz.write(raw)
    return buf.getvalue()


def pages_to_warc(
    pages: DataFrame,
    n_files: int = 8,
    compress: bool = True,
    prefix: str = "crawl",
) -> DataFrame:
    """pages → ``(warc_name string, content binary)``, one row per WARC file.

    Records are hash-assigned to files and sorted by url within each, so
    the output bytes are deterministic regardless of input partitioning.
    ``applyInPandas`` here is one pandas frame per *file* — the intended
    unit, not a per-group anti-pattern (n groups == n_files).
    """
    suffix = ".warc.gz" if compress else ".warc"

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("url")
        fid = int(pdf["_fid"].iloc[0])
        name = f"{prefix}-{fid:05d}{suffix}"
        first_date = _fmt_warc_date(pdf["warc_ts"].iloc[0])
        records = [_warcinfo_record(name, first_date)]
        for url, ts, payload in zip(pdf["url"], pdf["warc_ts"], pdf["html"]):
            records.append(
                _response_record(url, ts, bytes(payload) if payload is not None else b"")
            )
        if compress:
            content = b"".join(_gzip_member(r) for r in records)
        else:
            content = b"".join(records)
        return pd.DataFrame({"warc_name": [name], "content": [content]})

    keyed = pages.select("url", "warc_ts", "html").withColumn(
        "_fid", F.abs(F.xxhash64("url")) % n_files
    )
    return keyed.groupBy("_fid").applyInPandas(
        build, schema="warc_name string, content binary"
    )


def write_warc(
    pages: DataFrame,
    path: str,
    n_files: int = 8,
    compress: bool = True,
    prefix: str = "crawl",
) -> None:
    """Render + write WARC files executor-side (no driver funnel)."""
    import os

    os.makedirs(path, exist_ok=True)

    def dump(rows):
        for r in rows:
            with open(os.path.join(path, r["warc_name"]), "wb") as f:
                f.write(bytes(r["content"]))

    pages_to_warc(pages, n_files=n_files, compress=compress, prefix=prefix)\
        .foreachPartition(dump)


# ---------------------------------------------------------------------------
# CDX index + record-level selective reads
# ---------------------------------------------------------------------------
#
# Common Crawl ships a CDX(J) index next to its WARCs: one row per record
# with (url, timestamp, filename, offset, length) where offset/length
# address the record's own GZIP MEMBER inside the .warc.gz. That is what
# makes record-level fetches possible without inflating whole shards —
# the crawl-scale analogue of parquet predicate pushdown. build_cdx()
# derives that table distributively; read_warc_ranges() reads ONLY the
# indexed byte ranges back into the pages table, so a query for 10⁴ urls
# out of a 10⁸-record crawl touches kilobytes per hit instead of the
# ~1 GB shard each hit lives in.

CDX_SCHEMA = (
    "url string, warc_ts timestamp, filename string, offset long, "
    "length long, rec_index int, record_type string"
)


def iter_warc_member_offsets(data: bytes) -> Iterator[Tuple[int, int, int, dict]]:
    """Yield ``(offset, length, rec_index, headers)`` per WARC record.

    For gzip input, offset/length address the record's gzip member (the
    member-per-record crawler convention; a multi-record member yields one
    row per record with the member's range and an in-member ``rec_index``).
    For plain input they address the raw record bytes. Decompression is
    member-streamed — one member's inflated bytes at a time, never the
    whole shard.
    """
    if data[:2] == b"\x1f\x8b":
        pos, n = 0, len(data)
        while pos < n:
            if data[pos : pos + 2] != b"\x1f\x8b":
                break  # trailing garbage — stop indexing, don't guess
            d = zlib.decompressobj(31)
            out = bytearray()
            cur = pos
            while cur < n and not d.eof:
                chunk = data[cur : cur + 65536]
                out += d.decompress(chunk)
                cur += len(chunk)
            if not d.eof:
                break  # truncated member
            cur -= len(d.unused_data)
            for i, (headers, _block) in enumerate(iter_warc_records(bytes(out))):
                yield pos, cur - pos, i, headers
            pos = cur
        return
    # plain .warc: replicate the record walk, tracking byte offsets
    f = io.BytesIO(data)
    while True:
        line = f.readline()
        while line in (b"\r\n", b"\n"):
            line = f.readline()
        if not line or not line.startswith(b"WARC/"):
            break
        start = f.tell() - len(line)
        headers: dict = {}
        while True:
            hline = f.readline()
            if hline in (b"\r\n", b"\n", b""):
                break
            if b":" in hline:
                k, v = hline.split(b":", 1)
                headers[k.strip().lower().decode("utf-8", "replace")] = (
                    v.strip().decode("utf-8", "replace")
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            break
        block = f.read(length)
        if len(block) < length:
            break
        yield start, f.tell() - start, 0, headers


def build_cdx(
    spark: SparkSession,
    path: str,
    glob: str = "*.warc*",
    recursive: bool = True,
) -> DataFrame:
    """Index a WARC directory: one row per record with its byte range.

    Same distribution contract as :func:`read_warc` (one binaryFile task
    per shard); the output is a tiny table (≈100 bytes/record vs ~10⁴
    payload bytes) meant to be written as parquet next to the crawl and
    filtered/joined like any dimension table.
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
    )
    return _index_warc_files(files.select("path", "content"))


def update_cdx(
    spark: SparkSession,
    path: str,
    existing_cdx: DataFrame,
    glob: str = "*.warc*",
    recursive: bool = True,
) -> DataFrame:
    """Incremental indexing: index only WARC files NOT already covered by
    ``existing_cdx`` and return the union — so re-indexing a growing
    crawl directory costs one pass over the NEW dump's shards, never the
    corpus (the same new×old-only contract as
    :func:`~edspdf_spark.functions.dedup.lsh_incremental_pairs`).

    Already-indexed files are identified by their ``filename`` in the
    existing index; the known-file list is filename-cardinality-sized
    (one row per ~1 GB shard — ~10⁵ rows for a full Common Crawl dump),
    so the anti-join broadcasts. Files are assumed immutable once
    indexed (the crawler convention: shards are write-once).
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
        .select("path")
    )
    known = existing_cdx.select(F.col("filename").alias("path")).distinct()
    new_files = files.join(F.broadcast(known), on="path", how="left_anti")
    # Driver-side collect, deliberately: the result is SHARD-cardinality
    # (one ~200-byte path per ~1 GB shard — ~10⁵ rows / ~20 MB for a full
    # Common Crawl dump; the corpus would have to reach ~10 ZB before
    # this list pressured a driver heap). Folding the anti-join into the
    # content scan instead would make the binaryFile source materialize
    # every OLD shard's bytes just to drop the row — an anti-join is not
    # a pushable metadata filter, while an explicit path list prunes at
    # file-listing time. The collect trades 20 MB on the driver for not
    # re-reading the already-indexed corpus; at 10^12-document scale
    # that is the right trade by ~6 orders of magnitude.
    new_names = [r["path"] for r in new_files.collect()]
    if not new_names:
        return existing_cdx
    # one binaryFile scan restricted to the new shards (exact path list)
    fresh = (
        spark.read.format("binaryFile")
        .load(new_names)
        .select("path", "content")
    )
    indexed = _index_warc_files(fresh)
    return existing_cdx.unionByName(indexed)


def _index_warc_files(files: DataFrame) -> DataFrame:
    """(path, content) → CDX rows (shared by build_cdx / update_cdx)."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def frame(rows) -> pd.DataFrame:
            cols = list(zip(*rows)) if rows else [[]] * 7
            return pd.DataFrame(
                {
                    "url": pd.Series(cols[0], dtype=object),
                    "warc_ts": pd.Series(cols[1], dtype="datetime64[us]"),
                    "filename": pd.Series(cols[2], dtype=object),
                    "offset": pd.Series(cols[3], dtype="int64"),
                    "length": pd.Series(cols[4], dtype="int64"),
                    "rec_index": pd.Series(cols[5], dtype="int32"),
                    "record_type": pd.Series(cols[6], dtype=object),
                }
            )

        empty = True
        for pdf in batches:
            for fpath, data in zip(pdf["path"], pdf["content"]):
                rows = []
                for off, length, idx, headers in iter_warc_member_offsets(
                    bytes(data)
                ):
                    url = headers.get("warc-target-uri")
                    rtype = headers.get("warc-type", "")
                    if url is None or rtype not in ("response", "resource"):
                        continue
                    rows.append(
                        (
                            url,
                            _parse_warc_date(headers.get("warc-date", "")),
                            fpath,
                            off,
                            length,
                            idx,
                            rtype,
                        )
                    )
                if rows:
                    empty = False
                    yield frame(rows)
        if empty:
            yield frame([])

    return files.mapInPandas(work, schema=CDX_SCHEMA)


def _local_path(uri: str) -> str:
    """binaryFile paths are URIs (``file:/…``); open() wants a plain path."""
    if uri.startswith("file:"):
        from urllib.parse import unquote, urlparse

        p = urlparse(uri)
        return unquote(p.path)
    return uri


def read_warc_ranges(cdx: DataFrame, chunk_records: int = 2048) -> DataFrame:
    """Selective fetch: CDX rows → pages table, reading ONLY the indexed
    byte ranges (seek + read per record, gunzip one member at a time).

    Rows are sorted by ``(filename, offset)`` within each partition so a
    file's hits read sequentially through one handle. Feed it a filtered/
    joined CDX frame — e.g. ``cdx.join(wanted_urls, "url", "left_semi")``
    — and the crawl bytes read scale with the HIT count, not the corpus.
    """

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def frame(urls, tss, payloads) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "url": pd.Series(urls, dtype=object),
                    "warc_ts": pd.Series(tss, dtype="datetime64[us]"),
                    "html": pd.Series(payloads, dtype=object),
                    "text": pd.Series([None] * len(urls), dtype=object),
                    "lang": pd.Series([None] * len(urls), dtype=object),
                }
            )

        handle, handle_path = None, None
        urls: list = []
        tss: list = []
        payloads: list = []
        empty = True
        for pdf in batches:
            pdf = pdf.sort_values(["filename", "offset", "rec_index"])
            for fname, off, length, idx in zip(
                pdf["filename"], pdf["offset"], pdf["length"], pdf["rec_index"]
            ):
                if handle_path != fname:
                    if handle is not None:
                        handle.close()
                    handle = open(_local_path(fname), "rb")
                    handle_path = fname
                handle.seek(int(off))
                raw = handle.read(int(length))
                if raw[:2] == b"\x1f\x8b":
                    raw = gzip.decompress(raw)
                # rec_index counts ALL records in the member (matching
                # build_cdx), so walk iter_warc_records, not responses
                for i, (headers, block) in enumerate(iter_warc_records(raw)):
                    if i != int(idx):
                        continue
                    url = headers.get("warc-target-uri")
                    rtype = headers.get("warc-type", "")
                    if url is None or rtype not in ("response", "resource"):
                        break
                    if rtype == "response":
                        payload = _http_payload(block)
                        if payload is None:
                            payload = block
                    else:
                        payload = block
                    urls.append(url)
                    tss.append(_parse_warc_date(headers.get("warc-date", "")))
                    payloads.append(payload)
                    break
                if len(urls) >= chunk_records:
                    empty = False
                    yield frame(urls, tss, payloads)
                    urls, tss, payloads = [], [], []
        if handle is not None:
            handle.close()
        if urls or empty:
            yield frame(urls, tss, payloads)

    return cdx.repartition(F.col("filename")).mapInPandas(
        work, schema=PAGES_SCHEMA
    )


# ---------------------------------------------------------------------------
# charset sniffing
# ---------------------------------------------------------------------------

_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([A-Za-z0-9_.:-]+)""", re.IGNORECASE
)


def sniff_charset(head: bytes) -> str:
    """BOM, then ``<meta charset>`` within the first 2 KiB, else utf-8.

    Mirrors the WHATWG encoding-sniff order (BOM wins over meta); unknown
    codec names fall through to the utf-8 default rather than raising.
    """
    if head.startswith(codecs.BOM_UTF32_LE) or head.startswith(codecs.BOM_UTF32_BE):
        return "utf-32"
    if head.startswith(codecs.BOM_UTF8):
        return "utf-8-sig"
    if head.startswith(codecs.BOM_UTF16_LE) or head.startswith(codecs.BOM_UTF16_BE):
        return "utf-16"
    m = _META_CHARSET_RE.search(head[:2048])
    if m:
        name = m.group(1).decode("ascii", errors="replace")
        try:
            codecs.lookup(name)
            return name
        except LookupError:
            pass
    return "utf-8"


def decode_payload(raw: bytes) -> str:
    """Sniffed decode, never raising (errors are replaced)."""
    return raw.decode(sniff_charset(raw[:2048]), errors="replace")
