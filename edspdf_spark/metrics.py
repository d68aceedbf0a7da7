"""Per-partition lineage & metrics (custom — the reference has none,
SURVEY.md §4 "Lineage/metrics").

``run_pipeline_fused_with_metrics`` is the fused literal-mask pipeline
(``operators.fused``) whose tasks also emit one metrics row per input
partition: doc/bloc/error counts, input bytes and wall time, tagged with
the run id and the partition's length bucket. The metrics rows travel
IN-BAND (single pass over the data — no second job, no accumulator loss
on retry) in a union-typed frame and are split into two DataFrames by the
caller; ``persist()`` on the union keeps it one pass when both sides are
consumed. The aggregate rows come from the same per-batch body as
``run_pipeline_fused`` (``fused_batch_fn``), so both faces emit identical
rows.
"""

from __future__ import annotations

import time
from typing import Iterator, Tuple

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark import TaskContext

from edspdf_spark.operators.fused import fused_batch_fn
from edspdf_spark.schemas import AGG_SCHEMA, METRICS_SCHEMA

# aggregate columns + `_kind` (the discriminator) + nullable metrics columns
_UNION_SCHEMA = T.StructType(
    list(AGG_SCHEMA.fields)
    + [T.StructField("_kind", T.StringType(), False)]
    + [T.StructField(f.name, f.dataType, True) for f in METRICS_SCHEMA.fields]
)
_UNION_ARROW_SCHEMA = to_arrow_schema(_UNION_SCHEMA)
_METRIC_FIELDS = list(_UNION_ARROW_SCHEMA)[len(AGG_SCHEMA.fields) + 1 :]


def run_pipeline_fused_with_metrics(
    pages: DataFrame, masks, threshold: float, run_id: str
) -> Tuple[DataFrame, DataFrame, DataFrame]:
    """pages → (aggregates, metrics, cached_union) in a single pass —
    callers materialize both faces then ``cached_union.unpersist()``.

    The aggregates equal ``run_pipeline_fused(pages, masks, threshold)``.
    Per partition, ``n_blocs`` counts the blocs extracted from non-error
    documents and ``n_errors`` the error documents; ``wall_ms`` covers the
    whole fused task (extract, classify and aggregate)."""
    run_batch = fused_batch_fn(masks, threshold)

    def work(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t0 = time.perf_counter()
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        n_docs = n_blocs = n_errors = bytes_in = max_bucket = 0
        for batch in batches:
            agg, blocs, errors = run_batch(batch)
            lengths = pc.binary_length(batch.column("html"))
            n_docs += batch.num_rows
            n_errors += errors
            n_blocs += blocs
            bytes_in += pc.sum(lengths).as_py() or 0
            max_bucket = max(max_bucket, (pc.max(lengths).as_py() or 0).bit_length())
            n = agg.num_rows
            yield pa.RecordBatch.from_arrays(
                agg.columns
                + [pa.array(["agg"] * n, pa.string())]
                + [pa.nulls(n, f.type) for f in _METRIC_FIELDS],
                schema=_UNION_ARROW_SCHEMA,
            )
        metric = dict(
            _kind="metric",
            url="",
            label="",
            text="",
            run_id=run_id,
            partition_id=pid,
            bucket=max_bucket,
            n_docs=n_docs,
            n_blocs=n_blocs,
            n_errors=n_errors,
            bytes_in=bytes_in,
            wall_ms=int((time.perf_counter() - t0) * 1000),
        )
        yield pa.RecordBatch.from_pylist([metric], schema=_UNION_ARROW_SCHEMA)

    union = pages.select("url", "html").mapInArrow(work, schema=_UNION_SCHEMA).persist()
    agg = union.where("_kind = 'agg'").select(*AGG_SCHEMA.fieldNames())
    metrics = union.where("_kind = 'metric'").select(*METRICS_SCHEMA.fieldNames())
    # hand the persisted frame back so batch drivers (run_snapshot_job)
    # can unpersist after materializing both faces — otherwise each batch
    # leaves its aggregates pinned in the CacheManager for the session
    # lifetime
    return agg, metrics, union
