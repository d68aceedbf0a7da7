"""P1+P2 — payload → text-bloc rows, as a vectorized ``mapInArrow`` stage.

Spark-first re-expression of the reference extractor
(``edspdf/pipes/extractors/pdfminer.py:117-194``): the binary parse cannot be
SQL, but everything around it is batch-vectorized — one Arrow batch of pages
in, one Arrow batch of bloc rows out; normalization, bounds filter, style
fold and the per-page fuzzy reading-order sort all happen inside the same
batch with zero extra shuffles. Catalyst still prunes/pushes the scan below
this stage (only ``url`` and ``html`` are read). The worker reads and writes
RecordBatches directly: the kernel's bloc tuples and ``fold_runs`` style
tuples are already in ``BLOC_SCHEMA`` / ``PROPS_FIELD`` order, so they go
into the Arrow arrays as they are, with no pandas block manager on either
side.

Error containment: a document that fails to parse emits one sentinel row
with ``error=true`` (reference sets ``doc.error=True`` and zero boxes,
pdfminer.py:130-135). Spark task retries would retry a whole partition;
per-document try/except keeps one poison doc from sinking 10k neighbors
(SURVEY.md §4).

At 100 TB: this stage is embarrassingly parallel — throughput scales with
executors provided partitions are size-balanced, which is the job of
``edspdf_spark.skew.repartition_pages`` upstream.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from edspdf_spark.kernel.payload import extract_doc_raw
from edspdf_spark.schemas import BLOC_SCHEMA

_BLOC_ARROW_SCHEMA = to_arrow_schema(BLOC_SCHEMA)


def extract_blocs(pages: DataFrame, extract_style: bool = True) -> DataFrame:
    """pages(url, html, …) → blocs (BLOC_SCHEMA), reading-order sorted.

    Narrows the input to (url, html) first so Catalyst prunes every other
    column at the scan (``ReadSchema`` shows only the two columns).
    """

    def work(batches):
        for batch in batches:
            rows = []
            urls = batch.column("url").to_pylist()
            for url, html in zip(urls, batch.column("html").to_pylist()):
                blocs, _pages, error = extract_doc_raw(html)
                if error:
                    rows.append((url, None, None, None, None, None, None, None, [], None, True))
                elif extract_style:
                    rows.extend((url, *b, None, False) for b in blocs)
                else:
                    rows.extend((url, *b[:7], [], None, False) for b in blocs)
            cols = zip(*rows) if rows else [()] * len(_BLOC_ARROW_SCHEMA)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, _BLOC_ARROW_SCHEMA)],
                schema=_BLOC_ARROW_SCHEMA,
            )

    return pages.select("url", "html").mapInArrow(work, schema=BLOC_SCHEMA)
