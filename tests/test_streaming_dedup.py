"""applyInPandasWithState cross-batch url dedup lineage."""

from __future__ import annotations

import datetime as dt

import pandas as pd


def _write_batch(spark, path, rows):
    pdf = pd.DataFrame(
        rows, columns=["url", "warc_ts", "html", "text", "lang"]
    )
    from edspdf_spark.schemas import PAGES_SCHEMA

    spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _ts(h):
    return dt.datetime(2024, 1, 1, h, 0, 0)


def test_dedup_stream_first_seen(spark, tmp_path):
    from edspdf_spark.streaming.stream import dedup_stream_first_seen, read_pages_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: u1 twice (different hours), u2 once
    _write_batch(
        spark,
        src,
        [
            ("u1", _ts(1), b"x", "", "en"),
            ("u1", _ts(2), b"x", "", "en"),
            ("u2", _ts(3), b"x", "", "fr"),
        ],
    )
    q = dedup_stream_first_seen(read_pages_stream(spark, src), out, ckpt)
    q.awaitTermination()

    first = {r.url: r for r in spark.read.parquet(out).collect()}
    assert first["u1"].n_dups_so_far == 1 and first["u2"].n_dups_so_far == 0
    assert first["u1"].first_seen == _ts(1)

    # batch 2: u1 re-crawled, u3 new — state must carry across restarts
    _write_batch(spark, src, [("u1", _ts(9), b"x", "", "en"), ("u3", _ts(9), b"x", "", "de")])
    q2 = dedup_stream_first_seen(read_pages_stream(spark, src), out, ckpt)
    q2.awaitTermination()

    rows = spark.read.parquet(out).collect()
    by_url = {}
    for r in rows:
        by_url.setdefault(r.url, []).append(r)
    assert max(r.n_dups_so_far for r in by_url["u1"]) == 2
    assert all(r.first_seen == _ts(1) for r in by_url["u1"])  # state kept first ts
    assert max(r.n_dups_so_far for r in by_url["u3"]) == 0
    # deduped first-seen view: one (url, first_seen, lang) regardless of row count
    assert {(r.url, r.lang) for r in by_url["u1"]} == {("u1", "en")}


def test_dedup_min_ts_across_state_chunks(spark, tmp_path):
    """A hot url whose batch spans several pandas state chunks (arrow batch
    size is 256 in this suite) must record the GLOBAL minimum warc_ts, not
    the first chunk's — regression test for the chunked-iterator bug."""
    from edspdf_spark.streaming.stream import dedup_stream_first_seen, read_pages_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # 900 rows for one url; the unique earliest timestamp sits at row 700,
    # i.e. in a later chunk than the first
    rows = []
    for i in range(900):
        hour_offset = 0 if i == 700 else 1 + (i % 20)
        ts = dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(hours=hour_offset, seconds=i)
        rows.append(("hot", ts, b"x", "", "en"))
    _write_batch(spark, src, rows)

    q = dedup_stream_first_seen(read_pages_stream(spark, src), out, ckpt)
    q.awaitTermination()

    got = spark.read.parquet(out).collect()
    assert len(got) == 1
    assert got[0].n_dups_so_far == 899
    assert got[0].first_seen == dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=700)


def test_dedup_stream_with_state_ttl(spark, tmp_path):
    """TTL mode (ProcessingTimeTimeout) must produce the same output as
    exact mode for the data batches — the timeout only changes how long
    idle state survives — and exercises the timeout-arming wiring.

    A query with armed processing-time timeouts does NOT terminate under
    availableNow: Spark keeps scheduling 'no new data but cleaning up
    state' batches until every timeout fires (observed live; see the
    operator docstring). The operator now REFUSES that combination (also
    asserted here), so TTL mode runs under the continuous trigger and this
    test polls the sink for the data batch's output, then stops the
    query."""
    import time

    from edspdf_spark.streaming.stream import (
        dedup_stream_first_seen,
        read_pages_stream,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(
        spark,
        src,
        [
            ("u1", _ts(2), b"x", "", "en"),
            ("u1", _ts(1), b"x", "", "en"),
            ("u3", _ts(4), b"x", "", "de"),
        ],
    )
    import pytest

    with pytest.raises(ValueError, match="availableNow"):
        dedup_stream_first_seen(
            read_pages_stream(spark, src), out, ckpt, state_ttl_minutes=60
        )

    q = dedup_stream_first_seen(
        read_pages_stream(spark, src),
        out,
        ckpt,
        trigger_available_now=False,
        state_ttl_minutes=60,
    )
    try:
        rows = {}
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and len(rows) < 2:
            time.sleep(1.0)
            try:
                rows = {r["url"]: r for r in spark.read.parquet(out).collect()}
            except Exception:  # sink not committed yet
                rows = {}
    finally:
        q.stop()
    assert rows["u1"]["n_dups_so_far"] == 1
    assert rows["u1"]["first_seen"] == _ts(1)
    assert rows["u3"]["lang"] == "de"


def test_stream_neardup_gate_flags_snapshot_collisions(spark, tmp_path):
    """Stream-vs-snapshot LSH gate: pages near-duplicating a snapshot doc
    are flagged at ingest; the flags equal the batch incremental kernel
    run on the same data, and a replayed stream is idempotent."""
    from edspdf_spark.functions.dedup import (
        lsh_incremental_pairs,
        minhash_signatures,
    )
    from edspdf_spark.streaming.stream import read_pages_stream, stream_neardup_gate

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep dark forest where nobody ever goes at night"
    )
    other = (
        "completely unrelated text about database systems and vectorized "
        "query execution over columnar storage with late materialization"
    )
    snap = spark.createDataFrame(
        [(100, base), (200, other)], "doc_id long, text string"
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows = [
        ("dup1", _ts(1), b"x", base + " extra tail", "en"),      # near-dup of 100
        ("nov1", _ts(2), b"x", "totally novel words " * 8, "en"),
        ("dup2", _ts(3), b"x", other, "en"),                     # exact of 200
        # one url twice: a near-dup of 100 and a long novel page. Each row
        # gets its own signature; merged per url, the novel page's shingles
        # would win the minima and hide the near-dup
        ("rep", _ts(4), b"x", base + " extra tail", "en"),
        ("rep", _ts(5), b"x", " ".join(f"novel{i}" for i in range(1000)), "en"),
    ]
    _write_batch(spark, src, rows)
    q = stream_neardup_gate(read_pages_stream(spark, src), snap, out, ckpt)
    q.awaitTermination()

    got = {(r.url, int(r.snap_id)) for r in spark.read.parquet(out).collect()}
    assert ("dup1", 100) in got
    assert ("dup2", 200) in got
    assert ("rep", 100) in got
    assert not any(u == "nov1" for u, _ in got)

    # parity with the batch kernel on identical input
    from pyspark.sql import functions as F

    new = spark.createDataFrame(
        [(u, t) for (u, _, _, t, _) in rows], "doc_id string, text string"
    ).filter(F.length("text") >= 5)
    batch = {
        (r.new_id, int(r.old_id))
        for r in lsh_incremental_pairs(
            minhash_signatures(new),
            minhash_signatures(snap).select(
                F.col("doc_id").cast("string").alias("doc_id"),
                *[f"mh{i}" for i in range(8)],
            ),
        ).collect()
    }
    assert got == batch

    # replay from the same checkpoint: no duplicate flags
    q2 = stream_neardup_gate(read_pages_stream(spark, src), snap, out, ckpt)
    q2.awaitTermination()
    assert {(r.url, int(r.snap_id)) for r in spark.read.parquet(out).collect()} == got
