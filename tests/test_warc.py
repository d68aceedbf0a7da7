"""WARC wire-format source/sink + charset sniffing.

The pages table (url, warc_ts, html, text, lang) is the tabular form of a
Common-Crawl WARC response stream; these tests pin the round trip in both
directions and the parser against a hand-built file containing the record
mix a real crawl has (warcinfo, request, response, chunked response,
resource, metadata).
"""

from __future__ import annotations

import datetime as dt
import gzip

import pytest

from edspdf_spark.fixtures import build_pages_df
from edspdf_spark.sources.warc import (
    decode_payload,
    iter_warc_responses,
    pages_to_warc,
    read_warc,
    sniff_charset,
    write_warc,
)

TS = dt.datetime(2024, 1, 1, 0, 2, 17)


def _golden_warc() -> bytes:
    """Hand-built WARC/1.0 stream in crawler layout (not via our writer)."""

    def rec(rtype: str, block: bytes, extra: str = "") -> bytes:
        head = (
            f"WARC/1.0\r\n"
            f"WARC-Type: {rtype}\r\n"
            f"WARC-Date: 2024-01-01T00:02:17Z\r\n"
            f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-000000000001>\r\n"
            f"{extra}"
            f"Content-Length: {len(block)}\r\n\r\n"
        ).encode()
        return head + block + b"\r\n\r\n"

    plain_http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: 20\r\n\r\n"
        b"<html>plain</html>\r\n" + b"TRAILING GARBAGE"  # length-truncated
    )
    chunked_http = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"7\r\n<html>c\r\n"
        b"7\r\nhunked<\r\n"
        b"6\r\n/html>\r\n"
        b"0\r\n\r\n"
    )
    return b"".join(
        [
            rec("warcinfo", b"software: someone-else\r\n"),
            rec(
                "request",
                b"GET / HTTP/1.1\r\nHost: a\r\n\r\n",
                "WARC-Target-URI: https://skip.me/\r\n",
            ),
            rec(
                "response",
                plain_http,
                "WARC-Target-URI: https://a.example/\r\n"
                "Content-Type: application/http; msgtype=response\r\n",
            ),
            rec(
                "response",
                chunked_http,
                "WARC-Target-URI: https://b.example/\r\n"
                "Content-Type: application/http; msgtype=response\r\n",
            ),
            rec(
                "resource",
                b"raw resource bytes",
                "WARC-Target-URI: https://c.example/res\r\n",
            ),
            rec("metadata", b"fetchTimeMs: 12\r\n"),
        ]
    )


def test_parse_golden_stream_plain_and_gzip():
    for data in (_golden_warc(), gzip.compress(_golden_warc())):
        got = list(iter_warc_responses(data))
        assert [(u, p) for u, _, p in got] == [
            ("https://a.example/", b"<html>plain</html>\r\n"),
            ("https://b.example/", b"<html>chunked</html>"),
            ("https://c.example/res", b"raw resource bytes"),
        ]
        assert all(ts == TS for _, ts, _ in got)


def test_parse_member_per_record_gzip():
    # crawlers gzip one member per record; concatenated decompress must work
    m1 = gzip.compress(b"WARC/1.0\r\nWARC-Type: resource\r\n"
                       b"WARC-Target-URI: u1\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n"
                       b"Content-Length: 2\r\n\r\nhi\r\n\r\n")
    m2 = gzip.compress(b"WARC/1.0\r\nWARC-Type: resource\r\n"
                       b"WARC-Target-URI: u2\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n"
                       b"Content-Length: 2\r\n\r\nyo\r\n\r\n")
    got = list(iter_warc_responses(m1 + m2))
    assert [(u, p) for u, _, p in got] == [("u1", b"hi"), ("u2", b"yo")]


def test_streaming_parse_matches_eager():
    import io

    data = _golden_warc()
    eager = list(iter_warc_responses(data))
    assert list(iter_warc_responses(io.BytesIO(data))) == eager
    assert list(iter_warc_responses(io.BytesIO(gzip.compress(data)))) == eager
    # truncated file: parse stops cleanly at the cut record
    cut = list(iter_warc_responses(data[: len(data) - 40]))
    assert [u for u, _, _ in cut] == [u for u, _, _ in eager][: len(cut)]


def test_read_warc_chunked(spark, tmp_path):
    pages = build_pages_df(spark, 30, partitions=2)
    out = str(tmp_path / "chunked")
    write_warc(pages, out, n_files=2)
    # chunk far below the per-file record count → multi-yield path
    back = read_warc(spark, out, chunk_records=3)
    assert back.count() == 30
    assert {r["url"] for r in back.select("url").collect()} == {
        r["url"] for r in pages.select("url").collect()
    }


@pytest.mark.parametrize("compress", [True, False])
def test_spark_roundtrip(spark, tmp_path, compress):
    pages = build_pages_df(spark, 40, partitions=3)
    out = str(tmp_path / ("gz" if compress else "plain"))
    write_warc(pages, out, n_files=4, compress=compress)
    back = read_warc(spark, out)
    orig = {
        r["url"]: (r["warc_ts"], bytes(r["html"]))
        for r in pages.collect()
    }
    got = {r["url"]: (r["warc_ts"], bytes(r["html"])) for r in back.collect()}
    assert got == orig
    assert back.schema == pages.schema


def test_pages_to_warc_deterministic(spark):
    pages = build_pages_df(spark, 25, partitions=4)
    a = {r["warc_name"]: bytes(r["content"])
         for r in pages_to_warc(pages, n_files=3).collect()}
    b = {r["warc_name"]: bytes(r["content"])
         for r in pages_to_warc(pages.repartition(7), n_files=3).collect()}
    assert a == b
    assert all(n.endswith(".warc.gz") for n in a)


def test_sniff_charset():
    assert sniff_charset(b"\xef\xbb\xbfhello") == "utf-8-sig"
    assert sniff_charset("x".encode("utf-16")) == "utf-16"
    assert (
        sniff_charset(b'<html><meta charset="ISO-8859-1"><body>') == "ISO-8859-1"
    )
    assert (
        sniff_charset(
            b'<meta http-equiv="Content-Type" '
            b'content="text/html; charset=windows-1252">'
        )
        == "windows-1252"
    )
    assert sniff_charset(b'<meta charset="no-such-codec">') == "utf-8"
    assert sniff_charset(b"<html>nothing</html>") == "utf-8"


def test_decode_payload_non_utf8():
    s = "café à garçon"
    assert decode_payload(
        b'<meta charset="latin-1">' + s.encode("latin-1")
    ).endswith(s)
    assert decode_payload(("<html>" + s).encode("utf-16")) == "<html>" + s


def test_extract_html_sniffed_charset(spark):
    from edspdf_spark.operators.extract_html import extract_blocs_html

    body = "Voilà un long paragraphe avec assez de mots pour le seuil."
    page = ('<html><meta charset="ISO-8859-1"><p>' + body + "</p></html>").encode(
        "latin-1"
    )
    df = spark.createDataFrame(
        [("u1", page)], "url string, html binary"
    )
    naive = extract_blocs_html(df).collect()
    sniffed = extract_blocs_html(df, charset="sniff").collect()
    assert [r["text"] for r in sniffed] == [body]
    # naive utf-8 decode mangles the accents — the sniff is load-bearing
    assert [r["text"] for r in naive] != [body]


# ---------------------------------------------------------------------------
# CDX index + range reads
# ---------------------------------------------------------------------------

def test_cdx_offsets_golden_plain():
    from edspdf_spark.sources.warc import iter_warc_member_offsets, iter_warc_records

    data = _golden_warc()
    rows = list(iter_warc_member_offsets(data))
    assert len(rows) == 6  # every record indexed, filtering is build_cdx's job
    for off, length, idx, headers in rows:
        assert idx == 0  # plain layout: one record per range
        sub = list(iter_warc_records(data[off : off + length]))
        assert len(sub) == 1
        assert sub[0][0] == headers


def test_cdx_offsets_member_per_record_gzip():
    import gzip as _g

    from edspdf_spark.sources.warc import iter_warc_member_offsets

    recs = [
        b"WARC/1.0\r\nWARC-Type: resource\r\nWARC-Target-URI: u%d\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"
        % i
        for i in range(3)
    ]
    data = b"".join(_g.compress(r) for r in recs)
    rows = list(iter_warc_member_offsets(data))
    assert [h["warc-target-uri"] for _, _, _, h in rows] == ["u0", "u1", "u2"]
    # each member range decompresses to exactly its record
    for (off, length, idx, h), raw in zip(rows, recs):
        assert idx == 0
        assert _g.decompress(data[off : off + length]) == raw
    # whole-stream single-member gzip: shared range, distinct rec_index
    one = _g.compress(b"".join(recs))
    rows1 = list(iter_warc_member_offsets(one))
    assert [(o, l) for o, l, _, _ in rows1] == [(0, len(one))] * 3
    assert [i for _, _, i, _ in rows1] == [0, 1, 2]


@pytest.mark.parametrize("compress", [True, False])
def test_build_cdx_and_range_reads(spark, tmp_path, compress):
    from edspdf_spark.sources.warc import build_cdx, read_warc_ranges

    pages = build_pages_df(spark, 40, partitions=2)
    out = str(tmp_path / f"cdx_{compress}")
    write_warc(pages, out, n_files=3, compress=compress)

    cdx = build_cdx(spark, out)
    rows = cdx.collect()
    assert len(rows) == 40  # warcinfo records filtered out
    assert {r["record_type"] for r in rows} == {"response"}

    # full range read == full sequential read
    seq = {
        (r["url"], r["warc_ts"], bytes(r["html"]))
        for r in read_warc(spark, out).collect()
    }
    rng = {
        (r["url"], r["warc_ts"], bytes(r["html"]))
        for r in read_warc_ranges(cdx).collect()
    }
    assert rng == seq

    # selective: 7 urls → exactly those, byte-identical, reading only hits
    import pyspark.sql.functions as SF

    wanted = pages.select("url").where(SF.xxhash64("url") % 6 == 0)
    n_wanted = wanted.count()
    assert 0 < n_wanted < 40
    hit = read_warc_ranges(cdx.join(wanted, "url", "left_semi"))
    got = {(r["url"], bytes(r["html"])) for r in hit.collect()}
    want = {
        (r["url"], bytes(r["html"]))
        for r in pages.join(wanted, "url", "left_semi").collect()
    }
    assert got == want

    # empty selection → empty frame with the pages schema, no crash
    none = read_warc_ranges(cdx.where(SF.lit(False)))
    assert none.count() == 0 and none.columns == ["url", "warc_ts", "html", "text", "lang"]


def test_update_cdx_indexes_only_new_files(spark, tmp_path):
    """Incremental CDX: a second dump's shards are indexed without
    re-reading the first dump's; the union equals a from-scratch index."""
    from pyspark.sql import functions as F

    from edspdf_spark.sources.warc import build_cdx, update_cdx, write_warc

    d = str(tmp_path / "growing_crawl")
    pages1 = spark.createDataFrame(
        [(f"https://a/{i}", None, f"<p>one {i}</p>".encode(), None, None) for i in range(6)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    write_warc(pages1, d, n_files=2, prefix="dump1")
    cdx1 = build_cdx(spark, d).localCheckpoint()
    assert cdx1.count() == 6

    pages2 = spark.createDataFrame(
        [(f"https://b/{i}", None, f"<p>two {i}</p>".encode(), None, None) for i in range(4)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    write_warc(pages2, d, n_files=2, prefix="dump2")

    merged = update_cdx(spark, d, cdx1)
    full = build_cdx(spark, d)
    assert merged.count() == full.count() == 10
    # same (url, filename, offset) set as the from-scratch index
    key = lambda df: sorted(
        (r["url"], r["filename"].rsplit("/", 1)[-1], r["offset"])
        for r in df.collect()
    )
    assert key(merged) == key(full)
    # no new files -> the existing frame comes back as-is
    again = update_cdx(spark, d, merged.localCheckpoint())
    assert again.count() == 10
