"""Production job driver: the north rule's resume/metrics contract wired
end-to-end through the real operators.

``run_snapshot_job`` splits the input into ``n_batches`` deterministic
url-hash batches and, per batch, runs the fused extract → classify →
aggregate operator (one stage, no url shuffle) whose single in-band pass
also yields the per-partition lineage/metrics rows (`metrics.py`), and
commits BOTH frames to snapshot tables (`sources/snapshots.py`):

* batch membership is a pure function of the url (``xxhash64 % n``), so
  a restart recomputes the same batches;
* the AGG table's committed-batch set is the restart checkpoint — a
  rerun skips finished batches and re-runs only the remainder;
* within a batch, metrics commit BEFORE data: a crash between the two
  re-runs that batch, the metrics re-append is an idempotent no-op, and
  the data append completes — exactly-once on both tables under any
  crash point (snapshot isolation hides the torn attempt from readers).

``run_pipeline_stream_snapshot`` is the streaming face, without metrics
rows: ``foreachBatch`` is at-least-once on retry, and the epoch-id-keyed
idempotent append upgrades it to exactly-once without the
dynamic-partition-overwrite trick (which needs a partitioned layout);
with a real Iceberg catalog both map to ``MERGE INTO`` on the same call
sites.
"""

from __future__ import annotations

import os
from typing import Callable, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from edspdf_spark.sources.snapshots import SnapshotTable


def batch_expr(n_batches: int):
    """Deterministic batch id of a url — stable across restarts."""
    return F.pmod(F.xxhash64(F.col("url")), F.lit(int(n_batches)))


def run_snapshot_job(
    spark: SparkSession,
    pages: DataFrame,
    base: str,
    masks=None,
    threshold: float = 0.1,
    n_batches: int = 8,
    limit_batches: Optional[int] = None,
    compact_every: Optional[int] = None,
    expire_keep_last: Optional[int] = None,
    orphan_min_age_s: float = 86400.0,
) -> List[Tuple[str, bool]]:
    """Run the pipeline batch-by-batch into ``base/agg`` + ``base/metrics``
    snapshot tables. Returns ``(batch_id, ran)`` per batch — ``ran=False``
    marks batches already committed by a previous (crashed or finished)
    run. ``limit_batches`` stops after that many uncommitted batches (the
    test hook that simulates a crash mid-job).

    Maintenance (long-running crawls accrete one small-file batch per
    commit): ``compact_every`` rewrites both tables' data into one file
    per table every that many newly-run batches, and ``expire_keep_last``
    runs snapshot retention + orphan vacuum once at job end — both
    preserve the committed-batch set, so crash-resume across maintained
    runs keeps its exactly-once contract (tests/test_job.py proves a
    crash-resume THROUGH a compaction+expiry)."""
    from edspdf_spark.metrics import run_pipeline_fused_with_metrics

    masks = masks or [("body", 0.0, 0.0, 1.0, 1.0)]
    agg_table, met_table = job_tables(spark, base)
    done = agg_table.committed_batches()
    out: List[Tuple[str, bool]] = []
    ran = 0
    for b in range(int(n_batches)):
        bid = f"batch-{b:05d}"
        if bid in done:
            out.append((bid, False))
            continue
        if limit_batches is not None and ran >= limit_batches:
            break
        part = pages.where(batch_expr(n_batches) == b)
        agg, metrics, cached = run_pipeline_fused_with_metrics(
            part, masks, threshold, run_id=bid
        )
        met_table.append(metrics, bid)  # idempotent no-op on replay
        agg_table.append(agg, bid)  # THE commit: marks the batch done
        cached.unpersist()  # one aggregate cache per batch must not pile up
        ran += 1
        out.append((bid, True))
        if compact_every and ran % int(compact_every) == 0:
            agg_table.compact()
            met_table.compact()
    if expire_keep_last is not None:
        agg_table.expire_snapshots(
            keep_last=expire_keep_last, orphan_min_age_s=orphan_min_age_s
        )
        met_table.expire_snapshots(
            keep_last=expire_keep_last, orphan_min_age_s=orphan_min_age_s
        )
    return out


def job_tables(spark: SparkSession, base: str) -> Tuple[SnapshotTable, SnapshotTable]:
    return (
        SnapshotTable(spark, os.path.join(base, "agg")),
        SnapshotTable(spark, os.path.join(base, "metrics")),
    )


def run_pipeline_stream_snapshot(
    pages_stream: DataFrame,
    spark: SparkSession,
    base: str,
    checkpoint_dir: str,
    masks=None,
    threshold: float = 0.1,
    transform: Optional[Callable[[DataFrame], DataFrame]] = None,
    trigger_available_now: bool = True,
):
    """Streaming pipeline into a snapshot table: each micro-batch commits
    under ``epoch-<id>``, so a foreachBatch retry (at-least-once) hits the
    idempotence check and the table stays exactly-once."""
    from edspdf_spark.operators import run_pipeline_fused

    masks = masks or [("body", 0.0, 0.0, 1.0, 1.0)]
    table = SnapshotTable(spark, os.path.join(base, "agg"))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        agg = run_pipeline_fused(batch_df, masks, threshold=threshold)
        table.append(agg, f"epoch-{batch_id}")

    writer = (
        pages_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
