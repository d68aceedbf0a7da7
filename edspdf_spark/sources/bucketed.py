"""Bucketed corpus layout — co-located joins and aggregations without a
shuffle.

Every repeated operation of the production pipeline keys on the document
identity: blocs ⨝ pages (url), aggregates ⨝ metrics (url), dedup-label ⨝
corpus (doc_id), ANN codes ⨝ embeddings
(vec_id). On an unbucketed corpus each of those joins shuffles BOTH
sides every time it runs — at the 10^12-document north star that is the
dominant recurring cost. Bucketing moves that shuffle to WRITE time,
once: ``df.write.bucketBy(n, key)`` hash-partitions files by
``murmur3(key) % n`` and records the layout in the catalog, so every
later equi-join or aggregation on the key reads co-located buckets and
plans with NO Exchange on the bucketed side(s) — the classic
write-once/join-many trade (Spark's file-source analogue of an Iceberg
``bucket(n, key)`` partition transform; on a real deployment the same
call against an Iceberg catalog gives the same property plus snapshot
isolation, which ``sources/snapshots.py`` models).

Scale rules of thumb, documented here because they ARE the operator:

* ``n_buckets`` sets the join parallelism ceiling for bucketed-only
  plans — size it to the CLUSTER (≥ total executor cores; at 1000
  executors × 8 cores think 8–32k buckets), not to the data.
* both sides of a join must be bucketed by the same key with the same
  ``n_buckets`` (or a multiple, with
  ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``) for the
  exchange-free plan; a one-sided bucketed join still saves that side's
  shuffle.
* ``sortBy(key)`` inside buckets additionally removes the Sort below a
  SortMergeJoin — worth it for static corpora that are joined far more
  often than written.
* bucketed tables are a CATALOG feature: write with ``saveAsTable`` and
  read with ``spark.table`` — a path-based ``spark.read.parquet`` sees
  the same files but not the layout, and silently reverts to shuffling
  (correct, just slower).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame


def write_bucketed_table(
    df: DataFrame,
    table: str,
    key: str = "url",
    n_buckets: int = 64,
    sort_in_buckets: bool = True,
    mode: str = "overwrite",
    extra_sort_cols: Optional[Sequence[str]] = None,
) -> None:
    """Write ``df`` as a parquet table bucketed by ``key`` — the one-time
    shuffle that makes every later equi-join / groupBy on ``key``
    exchange-free (read it back with ``spark.table(table)``).

    ``sort_in_buckets`` sorts rows by ``key`` (+ ``extra_sort_cols``)
    inside each bucket file so SortMergeJoins also skip their Sort.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    writer = df.write.mode(mode).format("parquet").bucketBy(int(n_buckets), key)
    if sort_in_buckets:
        writer = writer.sortBy(key, *(extra_sort_cols or []))
    writer.saveAsTable(table)
