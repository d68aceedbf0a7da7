"""Skew handling: scan-partition sizing first, salted repartitioning second.

The reference's only skew tool is sorting chunks by box count before
batching (``edspdf/processing/simple.py:74-79``, ``sort_chunks``). At
cluster scale the equivalent problem is a 10k-page document landing in a
partition of one-pagers and stalling the stage (SURVEY.md §7.3).

Two tools, ordered by cost:

1. **Scan-partition sizing (zero shuffle)** — :func:`scan_partition_bytes`
   picks ``spark.sql.files.maxPartitionBytes`` so the parquet scan itself
   yields ~``cores × waves`` splits. With enough waves per core, giant
   documents average out statistically and the stage has no straggler —
   and NO byte of the corpus moves through a shuffle. At the 10^12-doc
   north star a pre-parse shuffle is petabytes of network/disk; this path
   costs nothing. Caveat: a scan can only split at parquet row-group
   granularity, so corpora must be WRITTEN with row groups no larger than
   the target split (``write_parquet``'s ``max_records_per_file`` /
   smaller output partitions — ~30 MB is right for parse-heavy stages).
2. **Salted uniform repartition** (:func:`repartition_pages`) — for
   adversarial layouts where giants cluster inside files (one host's
   monster pages written contiguously) so file splits are themselves
   skewed. ``bucket = floor(log2(octet_length(html)))`` tags each
   document's size class; the partition key is ``xxhash64(url, bucket)``
   — a salted hash that stripes every size class uniformly across ALL
   partitions, so task times equalize at the cost of a full-corpus
   shuffle.

Measured (1.92M-doc skewed corpus — every 97th doc 50× pages — fused
pipeline at local[32], interleaved fresh-JVM samples, best/mean wall):

- salted repartition to 128 (4 waves):  204 s best / 266 s mean
- salted repartition to 300 (9 waves):  179 s best / 244 s mean
- scan-sized ~32 MB splits, no shuffle: 154 s best / 202 s mean

Finer waves help even with the shuffle (204→179); dropping the shuffle
helps again (179→154) — and the scan-sized run was handicapped by the
corpus's 128 MB row groups (only ~2 real splits per file). Scan sizing
wins locally AND removes the petabyte-scale cost at the north star, so
it is the production default; salting remains the fallback for corpora
whose giants cluster within files.

An earlier revision used ``repartitionByRange(bucket, salt)`` to make
partitions homogeneous in document size; measured on the skewed bench
corpus that range layout concentrates every giant document (≈40% of total
parse work) into 1-2 partitions and the extract stage runs 4-7× slower at
local[32] (24s vs 5s, 12k docs). Homogeneous-cost partitions are exactly
wrong for a straggler-free stage; uniform *mixing* is right.

All downstream stages (extract mapInArrow, classifier expressions) are
partitioning-agnostic, so either tool fixes the whole pipeline's
task-time distribution.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ONE_MB = 1 << 20


def scan_partition_bytes(
    total_bytes: int,
    cores: int,
    waves: int = 8,
    floor_bytes: int = ONE_MB,
    ceil_bytes: int = 128 * ONE_MB,
) -> int:
    """``spark.sql.files.maxPartitionBytes`` value that makes a scan of
    ``total_bytes`` yield ~``cores × waves`` splits.

    ~8 waves per core keeps the stage's straggler tail under ~6% (half a
    wave) while per-task overhead stays negligible for parse-heavy work.
    Clamped to [1 MB, 128 MB]. Below 1 MB the fixed per-task cost passes
    about a tenth of a split's work: ``tools/worker_task_cost.py`` reads
    0.03–0.04 Python-worker CPU-s and 0.03–0.06 s wall per task at
    ``local[2]`` (4-vCPU VM), against 0.25–0.4 s of single-core fused
    payload work per MB of parquet (the benchmark's kernel replay). Above
    128 MB (Spark's default) there is nothing to gain.
    """
    per = total_bytes // max(1, cores * waves)
    return int(min(max(per, floor_bytes), ceil_bytes))


def apply_scan_partitioning(
    spark: SparkSession, total_bytes: int, cores: int, waves: int = 8
) -> int:
    """Set the session's ``maxPartitionBytes`` from
    :func:`scan_partition_bytes` and return the chosen value. Runtime
    conf — applies to scans planned after this call."""
    b = scan_partition_bytes(total_bytes, cores, waves)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(b))
    return b


def local_parquet_bytes(path: str) -> int:
    """Total on-disk bytes of a local parquet directory (bench/sandbox
    helper — on a cluster the table catalog or FileSystem API provides
    this)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if not name.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, name))
    return total


def with_length_bucket(pages: DataFrame, col: str = "html") -> DataFrame:
    return pages.withColumn(
        "_len_bucket",
        F.floor(F.log2(F.greatest(F.octet_length(F.col(col)), F.lit(1)))).cast("int"),
    )


def repartition_pages(
    pages: DataFrame, num_partitions: int, salt_buckets: int = None
) -> DataFrame:
    """Salted uniform repartition of the pages table (see module doc).

    ``salt_buckets`` BOUNDS the number of distinct shuffle keys (the cap
    keeps the key space small for AQE stats). Default (None) auto-sizes
    to ``4×num_partitions`` — enough keys for uniform spread; an explicit
    value is honored exactly (floored at ``num_partitions`` so no
    partition is structurally empty). The old behavior treated the value
    as a floor under the auto size, silently ignoring any cap below it.
    """
    if salt_buckets is None:
        n_keys = num_partitions * 4
    else:
        n_keys = max(int(salt_buckets), int(num_partitions))
    bucketed = with_length_bucket(pages).withColumn(
        "_salt",
        F.pmod(F.xxhash64("url", "_len_bucket"), F.lit(n_keys)).cast("int"),
    )
    return bucketed.repartition(num_partitions, F.col("_salt")).drop(
        "_len_bucket", "_salt"
    )
