"""Fused extract → mask-classify → aggregate in ONE Arrow stage.

The composable operators (`extract.py`, `classify.py`, `aggregate.py`)
mirror the reference's pipeline stages 1:1, but for the standard
literal-mask pipeline they ship every text line through a groupBy-url
shuffle only to regroup lines under the url that the extract task already
held in one piece. Measured at 120k docs / local[32], that blocs shuffle
(~9.6M nested-struct rows) is the single largest cost of the composed
plan; at the north-star 10^12-document scale it would move petabytes for
nothing. This operator is the Catalyst-style answer — fuse the whole
per-document pipeline into the extract stage:

    pages.select(url, html)                  (scan pruned to 2 columns)
      → mapInArrow(extract → NumPy overlap-argmax align → aggregate)
      → aggregates(url, label, text, properties)

(``mapInArrow``: the kernel consumes the RecordBatch and emits pyarrow
arrays directly — no pandas block manager on either side of the worker.)

Zero shuffles (the optional skew repartition upstream is the only
exchange). Semantics are byte-identical to the composed path — all three
per-document kernels are the same code (`kernel.payload.extract_doc_raw`,
`kernel.overlap.align_labels_kernel`, `kernel.aggregate.aggregate_doc`),
and tests assert fused == composed on the synthetic corpus, while the
driver oracle checks the fused output against DuckDB SQL.

Limitations vs the composed path: masks must be a literal page-agnostic
list (the standard case — reference ``simple_mask_classifier_factory``,
``pipes/classifiers/mask.py:69-82``); for DataFrame masks, per-page masks
or the forest classifier, compose the stage operators instead.
"""

from __future__ import annotations

from typing import Dict, Iterator, List, Optional, Sequence, Tuple, Union

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
    """pages(url, html, …) → aggregates, one fused ``mapInArrow`` stage.

    The worker reads the RecordBatch columns and emits pyarrow arrays
    directly, skipping the pandas block-manager round-trip on both sides.
    """
    # classify_mask's stack: user masks + the ±1e4 pollution catch-all; the
    # align kernel appends its own ±1e5 None-label catch-all last.
    src = np.array(
        [[m[1], m[3], m[2], m[4]] for m in masks]  # (x0, x1, y0, y1)
        + [[-MASK_INF, MASK_INF, -MASK_INF, MASK_INF]],
        dtype=np.float64,
    )
    src_labels: List[Optional[str]] = [m[0] for m in masks] + ["pollution"]

    def work(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            urls, labels, texts, properties = out = ([], [], [], [])
            for url, html in zip(
                batch.column("url").to_pylist(), batch.column("html").to_pylist()
            ):
                # tuple-native extract — materializing the dict view
                # (extract_doc) just to unpack it again cost ~15% of the
                # kernel
                blocs, _pages, error = extract_doc_raw(html)
                if error or not blocs:
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
                agg = aggregate_doc(
                    lines,
                    sort=sort,
                    new_line_threshold=new_line_threshold,
                    new_paragraph_threshold=new_paragraph_threshold,
                    label_map=label_map,
                )
                for label, (text, styles) in agg.items():
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
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(out, _AGG_ARROW_SCHEMA)],
                schema=_AGG_ARROW_SCHEMA,
            )

    return pages.select("url", "html").mapInArrow(work, schema=AGG_SCHEMA)
