"""Fused extract → mask-classify → aggregate in ONE Arrow stage.

The composable operators (`extract.py`, `classify.py`, `aggregate.py`)
mirror the reference's pipeline stages 1:1, but for a literal-mask
pipeline they ship every text line through a groupBy-url shuffle only to
regroup lines that the extract task already held in one piece (at 120k
docs / local[32], the largest cost of the composed plan). This operator
fuses the whole per-document pipeline into the extract stage, with zero
shuffles:

    pages.select(url, html)                  (scan pruned to 2 columns)
      → mapInArrow(extract → NumPy overlap-argmax align → aggregate)
      → aggregates(url, label, text, properties)

The per-document kernels are the composed path's code
(`kernel.payload.extract_doc_raw`, `kernel.overlap.align_labels_kernel`,
`kernel.aggregate.aggregate_doc`); tests assert fused == composed, and
the DuckDB oracles check the fused output against SQL. Callers:
the flagship ``entry()``, ``bench.py``, ``job.run_snapshot_job`` (via
``metrics.run_pipeline_fused_with_metrics``, which adds per-partition
metrics rows to the same pass) and ``job.run_pipeline_stream_snapshot``.

One input record is one document (the reference's one ``PDFDoc`` per
record): a url in two rows gets one aggregate set per row, where the
composed ``aggregate_simple`` merges both rows' lines. An error document
emits no aggregate row; the metrics face counts it.

Limitations vs the composed path: it runs the mask classifier only —
a literal page-agnostic list, the one form ``classify_mask`` takes
(reference ``simple_mask_classifier_factory``,
``pipes/classifiers/mask.py:69-82``); for the forest or other heads,
compose the stage operators instead.
"""

from __future__ import annotations

from typing import Callable, Dict, Iterator, List, Optional, Sequence, Tuple, Union

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from edspdf_spark.kernel.aggregate import aggregate_doc
from edspdf_spark.kernel.overlap import align_labels_kernel
from edspdf_spark.kernel.payload import extract_doc_raw
from edspdf_spark.operators.aggregate import to_markdown
from edspdf_spark.operators.classify import MASK_INF
from edspdf_spark.schemas import AGG_SCHEMA

_AGG_ARROW_SCHEMA = to_arrow_schema(AGG_SCHEMA)


def fused_batch_fn(
    masks, threshold: float, markdown=False, extract_style=True, **agg_kw
) -> Callable[[pa.RecordBatch], Tuple[pa.RecordBatch, int, int]]:
    """The per-batch body of both fused faces: one RecordBatch of pages
    (url, html) → ``(aggregates, n_blocs, n_errors)`` — its AGG_SCHEMA
    rows, the blocs of its non-error documents, and its error documents.
    ``agg_kw`` goes to ``aggregate_doc`` as is."""
    # classify_mask's stack: user masks + the ±1e4 pollution catch-all; the
    # align kernel appends its own ±1e5 None-label catch-all last.
    src = np.array(
        [[m[1], m[3], m[2], m[4]] for m in masks]  # (x0, x1, y0, y1)
        + [[-MASK_INF, MASK_INF, -MASK_INF, MASK_INF]],
        dtype=np.float64,
    )
    src_labels: List[Optional[str]] = [m[0] for m in masks] + ["pollution"]

    def run_batch(batch: pa.RecordBatch) -> Tuple[pa.RecordBatch, int, int]:
        urls, labels, texts, properties = out = ([], [], [], [])
        n_blocs = n_errors = 0
        for url, html in zip(
            batch.column("url").to_pylist(), batch.column("html").to_pylist()
        ):
            # tuple-native extract — materializing the dict view
            # (extract_doc) just to unpack it again cost ~15% of the kernel
            blocs, _pages, error = extract_doc_raw(html)
            n_errors += error  # an error doc has no blocs
            n_blocs += len(blocs)
            if not blocs:
                continue
            dst = np.array(
                [[b[2], b[4], b[3], b[5]] for b in blocs],
                dtype=np.float64,
            )
            idx = align_labels_kernel(src, dst, threshold)
            lines = [
                (
                    b[0],
                    b[2],
                    b[3],
                    b[4],
                    b[5],
                    b[6],
                    b[7] if extract_style else [],
                    src_labels[i] if i < len(src_labels) else None,
                )
                for b, i in zip(blocs, idx)
            ]
            for label, (text, styles) in aggregate_doc(lines, **agg_kw).items():
                props = [
                    {
                        "italic": s[0],
                        "bold": s[1],
                        "begin": s[2],
                        "end": s[3],
                        "fontname": s[4],
                    }
                    for s in styles
                ]
                urls.append(url)
                labels.append(label)
                texts.append(to_markdown(text, props) if markdown else text)
                properties.append(props)
        aggregates = pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(out, _AGG_ARROW_SCHEMA)],
            schema=_AGG_ARROW_SCHEMA,
        )
        return aggregates, n_blocs, n_errors

    return run_batch


def run_pipeline_fused(
    pages: DataFrame,
    masks: Sequence[Tuple[Optional[str], float, float, float, float]],
    threshold: float = 1.0,
    markdown: bool = False,
    extract_style: bool = True,
    sort: bool = False,
    new_line_threshold: float = 0.2,
    new_paragraph_threshold: float = 1.5,
    label_map: Optional[Dict[str, Union[str, List[str]]]] = None,
) -> DataFrame:
    """pages(url, html, …) → aggregates, one fused ``mapInArrow`` stage
    whose worker reads and emits Arrow columns directly (no pandas block
    manager on either side)."""
    run_batch = fused_batch_fn(
        masks, threshold, markdown, extract_style, sort=sort, label_map=label_map,
        new_line_threshold=new_line_threshold,
        new_paragraph_threshold=new_paragraph_threshold,
    )

    def work(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield run_batch(batch)[0]

    return pages.select("url", "html").mapInArrow(work, schema=AGG_SCHEMA)
