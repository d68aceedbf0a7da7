"""P6 simple-aggregator / P7 markdown-aggregator as a streaming grouped stage.

The BASELINE-mandated groupBy-url aggregation — one shuffle by url (the
only data-sized shuffle of the whole pipeline) — implemented as
``repartition(url) → sortWithinPartitions(url, page_num, bloc_ord) →
mapInPandas`` rather than ``groupBy.applyInPandas``: the grouped-map API
materializes one pandas DataFrame PER DOCUMENT (measured: the aggregate
stage dominated the whole pipeline at 120k docs, 53s of 83s at local[32],
mostly pandas per-group machinery), while this streaming form sorts on the
JVM side (Tungsten), slices url groups out of each Arrow batch with numpy
boundary indices, and carries the partition's trailing — possibly
incomplete — url group over to the next batch. Each document is then
reconstituted by the exact-semantics kernel
(``edspdf_spark.kernel.aggregate.aggregate_doc`` ≙ reference
``edspdf/pipes/aggregators/simple.py:108-171``).

Ordered concat + exact ``np.median`` + span rebasing must be byte-exact,
which is why the per-document math stays a Python kernel rather than a
``lead()``/``percentile`` SQL approximation (SURVEY.md P6 discussion).

At 100 TB: aggregation state is one document's lines (KBs); skew comes only
from giant documents, which the upstream salted repartition spreads; AQE
coalesces the groupBy residual.
"""

from __future__ import annotations

from typing import Dict, Iterator, List, Optional, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from edspdf_spark.kernel.aggregate import aggregate_doc
from edspdf_spark.operators.grouped import group_bounds, map_url_groups
from edspdf_spark.schemas import AGG_SCHEMA

_AGG_COLS = [f.name for f in AGG_SCHEMA.fields]


def _props_to_tuples(props) -> list:
    if props is None:
        return []
    return [
        (p["italic"], p["bold"], int(p["begin"]), int(p["end"]), p["fontname"])
        for p in props
    ]


def aggregate_simple(
    blocs: DataFrame,
    sort: bool = False,
    new_line_threshold: float = 0.2,
    new_paragraph_threshold: float = 1.5,
    label_map: Optional[Dict[str, Union[str, List[str]]]] = None,
) -> DataFrame:
    """blocs → aggregates(url, label, text, properties).

    Groups by url, not by input record: two input records that share a url
    become ONE aggregate set, their lines sorted together by
    ``(page_num, bloc_ord)`` so they interleave. The fused path
    (``operators.fused``) keeps one aggregate set per input record."""

    def flush(pdf: pd.DataFrame) -> pd.DataFrame:
        urls = pdf["url"].to_numpy()
        starts, ends = group_bounds(urls)
        page = pdf["page_num"].to_numpy()
        x0 = pdf["x0"].to_numpy()
        y0 = pdf["y0"].to_numpy()
        x1 = pdf["x1"].to_numpy()
        y1 = pdf["y1"].to_numpy()
        texts = pdf["text"].to_numpy()
        props = pdf["props"].to_numpy()
        labels = pdf["label"].to_numpy()
        out: Dict[str, list] = {c: [] for c in _AGG_COLS}
        for s, e in zip(starts, ends):
            lines = [
                (
                    int(page[i]),
                    float(x0[i]),
                    float(y0[i]),
                    float(x1[i]),
                    float(y1[i]),
                    texts[i],
                    _props_to_tuples(props[i]),
                    labels[i],
                )
                for i in range(s, e)
            ]
            agg = aggregate_doc(
                lines,
                sort=sort,
                new_line_threshold=new_line_threshold,
                new_paragraph_threshold=new_paragraph_threshold,
                label_map=label_map,
            )
            for label, (text, styles) in agg.items():
                out["url"].append(urls[s])
                out["label"].append(label)
                out["text"].append(text)
                out["properties"].append(
                    [
                        {
                            "italic": st[0],
                            "bold": st[1],
                            "begin": st[2],
                            "end": st[3],
                            "fontname": st[4],
                        }
                        for st in styles
                    ]
                )
        # explicit object dtype: a zero-row flush would otherwise default
        # to float64 columns, which Arrow cannot cast to list<struct>
        return pd.DataFrame(
            {c: pd.Series(out[c], dtype=object) for c in _AGG_COLS},
            columns=_AGG_COLS,
        )

    good = blocs.filter(~F.col("error"))
    return map_url_groups(good, flush, AGG_SCHEMA)


def to_markdown(text: str, properties: list) -> str:
    """P7 markdown recipe (reference
    ``tests/recipes/test_markdown_aggregator.py:6-36`` semantics): wrap bold
    spans in ``**…**`` and italic in ``_…_``, processing spans right-to-left
    so earlier offsets stay valid."""
    frags = []
    for p in properties:
        bold = bool(p["bold"]) if p["bold"] is not None else False
        italic = bool(p["italic"]) if p["italic"] is not None else False
        if bold or italic:
            frags.append((int(p["begin"]), int(p["end"]), bold, italic))
    out = text
    for begin, end, bold, italic in sorted(frags, key=lambda f: f[0], reverse=True):
        piece = out[begin:end]
        if bold:
            piece = f"**{piece}**"
        if italic:
            piece = f"_{piece}_"
        out = out[:begin] + piece + out[end:]
    return out


def aggregate_markdown(blocs: DataFrame, **kwargs) -> DataFrame:
    """P7: simple aggregation, then markdown-decorate the text per row."""
    import pandas as pd  # noqa: F811 — re-import for the UDF closure

    agg = aggregate_simple(blocs, **kwargs)

    def decorate(batches):
        for pdf in batches:
            if len(pdf):
                pdf = pdf.assign(
                    text=[
                        to_markdown(t, props if props is not None else [])
                        for t, props in zip(pdf["text"], pdf["properties"])
                    ]
                )
            yield pdf

    return agg.mapInPandas(decorate, schema=AGG_SCHEMA)
