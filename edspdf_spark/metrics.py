"""Per-partition lineage & metrics (custom — the reference has none,
SURVEY.md §4 "Lineage/metrics").

``extract_blocs_with_metrics`` wraps the extract stage so each task also
emits one metrics row per input partition: doc/bloc/error counts, input
bytes and wall time, tagged with the run id and the partition's length
bucket. The metrics rows travel IN-BAND (single pass over the data — no
second job, no accumulator loss on retry) in a union-typed frame and are
split into two DataFrames by the caller; ``persist()`` on the union keeps
it one pass when both sides are consumed. The bloc rows come from the
same Arrow walker as ``extract_blocs`` (``extract_bloc_batch``), so both
faces emit identical rows.
"""

from __future__ import annotations

import time
from typing import Iterator, Tuple

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark import TaskContext

from edspdf_spark.operators.extract import extract_bloc_batch
from edspdf_spark.schemas import BLOC_SCHEMA, METRICS_SCHEMA

# bloc columns + nullable metrics columns; `_kind` discriminates
_UNION_SCHEMA = T.StructType(
    list(BLOC_SCHEMA.fields)
    + [
        T.StructField("_kind", T.StringType(), False),
        T.StructField("run_id", T.StringType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("bucket", T.IntegerType(), True),
        T.StructField("n_docs", T.LongType(), True),
        T.StructField("n_blocs", T.LongType(), True),
        T.StructField("n_errors", T.LongType(), True),
        T.StructField("bytes_in", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
    ]
)
_UNION_ARROW_SCHEMA = to_arrow_schema(_UNION_SCHEMA)
_METRIC_FIELDS = list(_UNION_ARROW_SCHEMA)[len(BLOC_SCHEMA.fields) + 1 :]

_BLOC_COLS = [f.name for f in BLOC_SCHEMA.fields]
_METRIC_COLS = [f.name for f in METRICS_SCHEMA.fields]


def extract_blocs_with_metrics(
    pages: DataFrame, run_id: str
) -> Tuple[DataFrame, DataFrame, DataFrame]:
    """pages → (blocs, metrics, cached_union) in a single pass — callers
    materialize both faces then ``cached_union.unpersist()``."""

    def work(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t0 = time.perf_counter()
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        n_docs = n_blocs = n_errors = bytes_in = max_bucket = 0
        for batch in batches:
            blocs = extract_bloc_batch(batch)
            n = blocs.num_rows
            # one sentinel row per failed document
            errors = blocs.column("error").true_count
            lengths = pc.binary_length(batch.column("html"))
            n_docs += batch.num_rows
            n_errors += errors
            n_blocs += n - errors
            bytes_in += pc.sum(lengths).as_py() or 0
            max_bucket = max(max_bucket, (pc.max(lengths).as_py() or 0).bit_length())
            yield pa.RecordBatch.from_arrays(
                blocs.columns
                + [pa.array(["bloc"] * n, pa.string())]
                + [pa.nulls(n, f.type) for f in _METRIC_FIELDS],
                schema=_UNION_ARROW_SCHEMA,
            )
        metric = dict(
            _kind="metric",
            url="",
            props=[],
            error=False,
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

    union = pages.select("url", "html").mapInArrow(work, schema=_UNION_SCHEMA)
    union = union.persist()
    blocs = union.filter(F.col("_kind") == "bloc").select(*_BLOC_COLS)
    metrics = union.filter(F.col("_kind") == "metric").select(*_METRIC_COLS)
    # hand the persisted frame back so batch drivers (run_snapshot_job)
    # can unpersist after materializing both faces — otherwise each batch
    # leaves a full extraction dataset pinned in the CacheManager for the
    # session lifetime
    return blocs, metrics, union
