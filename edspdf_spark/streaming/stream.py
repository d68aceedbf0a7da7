"""Structured Streaming ingest for the pages pipeline.

The reference is batch-only (SURVEY.md §2.6); a Common-Crawl-scale ingest
is naturally a stream of WARC drops. The stream jobs here:

* ``read_pages_stream`` — file-source stream over a pages parquet
  directory. The pipeline job over it is
  ``job.run_pipeline_stream_snapshot``: the fused extract → classify →
  aggregate operator per micro-batch, committed exactly-once into the
  same ``SnapshotTable`` as the batch snapshot job.
* ``dedup_stream_first_seen`` — cross-batch url dedup lineage through
  ``applyInPandasWithState``.
* ``windowed_ingest_metrics`` — a genuinely stateful streaming aggregation:
  doc/byte counts per (1-minute warc_ts window, lang) with a watermark for
  late arrivals — the streaming face of the metrics table.
* ``stream_neardup_gate`` — per-batch MinHash-LSH flags against a corpus
  snapshot.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from edspdf_spark.schemas import PAGES_SCHEMA


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def dedup_stream_first_seen(
    pages_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    state_ttl_minutes: Optional[int] = None,
):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    cross-batch url dedup lineage — per url, the state store carries
    (total occurrences, first-seen timestamp, first-seen lang); each
    micro-batch that brings new arrivals for a url emits one row
    ``(url, first_seen_ts, first_lang, n_dups_so_far)``. Reading the sink
    with any-one-row-per-url gives the deduped first-seen view; the
    cumulative duplicate counter is the lineage signal the metrics table
    wants (``dropDuplicates`` could express pass/drop, but not the
    counter).

    State is keyed by url — at scale the state store shards with the
    shuffle. ``state_ttl_minutes`` bounds it: with a TTL the operator runs
    under ``ProcessingTimeTimeout`` and evicts urls idle longer than the
    TTL (a url that reappears later restarts its lineage — the standard
    web-crawl trade: bounded state vs exact all-time dedup). ``None``
    keeps state forever (exact mode; fine for availableNow replays).

    Trigger pairing: a TTL is meant for CONTINUOUS runs
    (``trigger_available_now=False``). Under availableNow, Spark does not
    terminate while timeouts are armed — it keeps scheduling "no new data
    but cleaning up state" batches until every timeout fires (observed
    live: batch ids climbing with ``numInputRows=0`` for the whole TTL),
    so a bounded replay with a TTL must be ``stop()``-ed by the caller
    after its data batches commit.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    if state_ttl_minutes is not None and trigger_available_now:
        # the combination documented above hangs awaitTermination() for the
        # full TTL (empty state-cleanup batches until every timeout fires)
        # — refuse it instead of letting the caller discover the hang
        raise ValueError(
            "state_ttl_minutes requires a continuous trigger: under "
            "availableNow Spark keeps scheduling empty state-cleanup "
            "batches until every armed timeout fires, so awaitTermination "
            "hangs for the whole TTL. Pass trigger_available_now=False for "
            "TTL mode, or drop the TTL for bounded replays."
        )

    out_schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("first_seen", T.TimestampType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("n_dups_so_far", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("seen", T.LongType(), False),
            T.StructField("first_us", T.LongType(), True),
            T.StructField("lang", T.StringType(), True),
        ]
    )

    ttl_ms = None if state_ttl_minutes is None else int(state_ttl_minutes) * 60_000

    def dedup(key, pdf_iter, state: GroupState):
        if ttl_ms is not None and state.hasTimedOut:
            # idle past the TTL: evict — the url's lineage restarts if it
            # ever reappears. No output row (nothing new arrived).
            state.remove()
            return
        if state.exists:
            seen, first_us, lang0 = state.get
        else:
            seen, first_us, lang0 = 0, None, None
        # applyInPandasWithState splits large groups into ~10k-row chunks:
        # track the MINIMUM warc_ts across ALL chunks of this batch (a hot
        # url replayed by availableNow easily spans several), never just
        # the first chunk's head.
        new = 0
        batch_first_us = None
        batch_lang = None
        saw_batch_row = False
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("warc_ts", kind="stable")
            head = pdf.iloc[0]  # chunk minimum (NaT sorts last)
            ts = head["warc_ts"]
            cand = None if pd.isna(ts) else int(pd.Timestamp(ts).value // 1000)
            if not saw_batch_row:
                batch_first_us, batch_lang, saw_batch_row = cand, head["lang"], True
            elif cand is not None and (batch_first_us is None or cand < batch_first_us):
                batch_first_us, batch_lang = cand, head["lang"]
            new += len(pdf)
        if seen == 0 and new:
            first_us, lang0 = batch_first_us, batch_lang
        state.update((seen + new, first_us, lang0))
        if ttl_ms is not None:
            # must be re-armed after every update (Spark clears it)
            state.setTimeoutDuration(ttl_ms)
        if new:
            yield pd.DataFrame(
                {
                    "url": pd.Series([key[0]], dtype=object),
                    "first_seen": pd.Series(
                        [None if first_us is None else pd.Timestamp(first_us * 1000)]
                    ),
                    "lang": pd.Series([lang0], dtype=object),
                    "n_dups_so_far": pd.Series([seen + new - 1], dtype="int64"),
                }
            )

    deduped = (
        pages_stream.select("url", "warc_ts", "lang")
        .groupBy("url")
        .applyInPandasWithState(
            dedup,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.NoTimeout
                if ttl_ms is None
                else GroupStateTimeout.ProcessingTimeTimeout
            ),
        )
    )
    writer = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_ingest_metrics(
    pages_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 minutes",
    window: str = "1 minute",
    trigger_available_now: bool = True,
):
    """Watermarked windowed aggregation: docs/bytes per (window, lang)."""
    agg = (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.octet_length("html")).alias("bytes_in"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_docs",
            "bytes_in",
        )
    )
    writer = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_neardup_gate(
    pages_stream: DataFrame,
    snapshot_docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 5,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    min_len: int = 5,
    snap_id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str = "url",
    trigger_available_now: bool = True,
):
    """Streaming ingest near-dup gate: flag, AT INGEST TIME, pages whose
    MinHash-LSH band buckets collide with the existing corpus snapshot —
    the streaming face of :func:`~edspdf_spark.functions.dedup.
    lsh_incremental_pairs` (new×old only, never old×old).

    The snapshot's signatures are computed ONCE and persisted (at 10^12
    docs a production system stores the banded table between dumps —
    same note as the batch incremental path); each micro-batch computes
    its own signatures with the vectorized MinHash kernel (stateless, so
    streaming-legal) and runs the batch kernel inside ``foreachBatch``.
    The gate owns its sink: distinct ``(url, snap_id)`` flags go into a
    ``batch_id``-partitioned parquet directory under dynamic partition
    overwrite, so a retried micro-batch replaces its own partition only.

    Downstream either drops flagged urls or routes them to exact
    rescoring; unflagged pages are certifiably bucket-novel vs the
    snapshot at the gate's recall.
    """
    from edspdf_spark.functions.dedup import (
        lsh_incremental_pairs,
        minhash_signatures,
    )

    snap_sig = minhash_signatures(
        snapshot_docs.filter(F.length(text_col) >= min_len),
        text_col=text_col,
        id_col=snap_id_col,
        k=k,
        n_hashes=n_hashes,
    ).persist()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.filter(F.length(text_col) >= min_len).select(
            F.col(url_col).cast("string").alias("doc_id"), text_col
        )
        new_sig = minhash_signatures(
            new, text_col=text_col, id_col="doc_id", k=k, n_hashes=n_hashes
        )
        flags = lsh_incremental_pairs(
            new_sig,
            snap_sig.select(
                F.col(snap_id_col).cast("string").alias("doc_id"),
                *[f"mh{i}" for i in range(n_hashes)],
            ),
            id_col="doc_id",
            rows_per_band=rows_per_band,
            n_hashes=n_hashes,
        ).select(
            F.col("new_id").alias("url"),
            F.col("old_id").alias("snap_id"),
            F.lit(batch_id).alias("batch_id"),
        )
        flags.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(out_dir)

    writer = (
        pages_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
