"""Explicit schemas for the three narrow tables of the engine.

The reference (EDS-PDF) has no schema inference anywhere — all structures are
attrs classes with fixed fields (``/root/reference/edspdf/structures.py``).
We mirror that with fixed Spark schemas; coordinates are DOUBLE because the
reference uses Python floats (float64) everywhere and separator decisions in
the aggregator compare ``dy/height`` float ratios
(reference ``edspdf/pipes/aggregators/simple.py:156-164``).

Tables
------
pages      : pipeline input (BASELINE.json input_hint shape)
blocs      : one row per extracted text line ("TextBox",
             reference ``edspdf/structures.py:254-268``)
aggregates : one row per (url, label) aggregated text
             ("Text", reference ``edspdf/structures.py:229-251``)
metrics    : per-partition lineage / bloc-count metrics
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# pages(url, warc_ts, html, text, lang) — BASELINE.json input_hint, verbatim.
# ---------------------------------------------------------------------------
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Style span ≙ reference TextProperties (structures.py:123-147): a half-open
# [begin, end) character span into the line (later: aggregated) text.
PROPS_FIELD = T.ArrayType(
    T.StructType(
        [
            T.StructField("italic", T.BooleanType(), True),
            T.StructField("bold", T.BooleanType(), True),
            T.StructField("begin", T.IntegerType(), True),
            T.StructField("end", T.IntegerType(), True),
            T.StructField("fontname", T.StringType(), True),
        ]
    )
)

# blocs: one row per extracted text line, in reading order.
#   bloc_ord  : rank of the line within its page after the reading-order sort
#               (reference Box.__lt__, structures.py:189-226).
#   error     : a document that fails to parse emits exactly one sentinel row
#               with error=true, page_num NULL and text NULL (reference sets
#               doc.error=True and zero boxes, pdfminer.py:130-135).
BLOC_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_num", T.IntegerType(), True),
        T.StructField("bloc_ord", T.IntegerType(), True),
        T.StructField("x0", T.DoubleType(), True),
        T.StructField("y0", T.DoubleType(), True),
        T.StructField("x1", T.DoubleType(), True),
        T.StructField("y1", T.DoubleType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("props", PROPS_FIELD, True),
        T.StructField("label", T.StringType(), True),
        T.StructField("error", T.BooleanType(), False),
    ]
)

# aggregates: one row per (url, label) — reference doc.aggregated_texts.
AGG_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("properties", PROPS_FIELD, True),
    ]
)

# metrics: per-partition lineage sink (custom — the reference has none,
# SURVEY.md §4 "Lineage/metrics").
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("bucket", T.IntegerType(), True),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_blocs", T.LongType(), False),
        T.StructField("n_errors", T.LongType(), False),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)
