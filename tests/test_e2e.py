"""End-to-end: synthetic corpus → extract → mask-classify → aggregate.

The distributed result must match, byte-for-byte, a driver-local per-document
oracle built from the same exact-semantics kernels plus the NumPy alignment
kernel (itself validated against the reference's golden unit fixtures in
test_kernel.py). This checks the Spark plumbing — broadcast-join + window
argmax, groupBy url, Arrow struct round-trips — not just the math.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from edspdf_spark.fixtures import build_pages_df, gen_doc
from edspdf_spark.kernel.aggregate import aggregate_doc
from edspdf_spark.kernel.overlap import align_labels_kernel
from edspdf_spark.kernel.payload import extract_doc
from edspdf_spark.operators.aggregate import aggregate_simple
from edspdf_spark.operators.classify import classify_mask
from edspdf_spark.operators.extract import extract_blocs
from edspdf_spark.schemas import BLOC_SCHEMA

N_DOCS = 120
MASKS = [("body", 0.2, 0.3, 0.9, 0.6)]
THRESHOLD = 0.1


def oracle_doc(i: int):
    """Reference-semantics pipeline for one document, driver-local."""
    doc = gen_doc(i)
    blocs, _pages, error = extract_doc(doc["html"])
    if error:
        return doc["url"], None, True
    # mask classify: user masks + pollution(±1e4) + align catch-all(None)
    if blocs:
        dst = np.array([[b["x0"], b["x1"], b["y0"], b["y1"]] for b in blocs])
        src = np.array(
            [[m[1], m[3], m[2], m[4]] for m in MASKS] + [[-1e4, 1e4, -1e4, 1e4]]
        )
        idx = align_labels_kernel(src, dst, threshold=THRESHOLD)
        label_vocab = [m[0] for m in MASKS] + ["pollution", None]
        for b, j in zip(blocs, idx):
            b["label"] = label_vocab[j]
    lines = [
        (
            b["page_num"],
            b["x0"],
            b["y0"],
            b["x1"],
            b["y1"],
            b["text"],
            [(p["italic"], p["bold"], p["begin"], p["end"], p["fontname"]) for p in b["props"]],
            b["label"],
        )
        for b in blocs
    ]
    return doc["url"], aggregate_doc(lines), False


@pytest.fixture(scope="module")
def spark_result(spark):
    pages = build_pages_df(spark, N_DOCS, partitions=8)
    blocs = extract_blocs(pages)
    labeled = classify_mask(blocs, MASKS, threshold=THRESHOLD)
    agg = aggregate_simple(labeled)
    rows = agg.collect()
    out = {}
    for r in rows:
        out.setdefault(r.url, {})[r.label] = (
            r.text,
            [(p.italic, p.bold, p.begin, p.end, p.fontname) for p in r.properties],
        )
    return out


def test_byte_identical_text_per_url(spark_result):
    n_checked = 0
    for i in range(N_DOCS):
        url, oracle, error = oracle_doc(i)
        if error or oracle is None:
            assert url not in spark_result or spark_result[url] == {}
            continue
        got = spark_result.get(url, {})
        assert set(got.keys()) == set(oracle.keys()), url
        for label, (otext, ostyles) in oracle.items():
            gtext, gstyles = got[label]
            assert gtext == otext, f"{url}/{label}: text mismatch"
            assert gstyles == [tuple(s) for s in ostyles], f"{url}/{label}: styles"
            n_checked += 1
    assert n_checked > 100  # the corpus really produced aggregates


def _oracle_bloc_rows(url, html, extract_style):
    """All 11 BLOC_SCHEMA columns of one document, from the dict view."""
    blocs, _pages, error = extract_doc(html, extract_style=extract_style)
    if error:
        return [(url, None, None, None, None, None, None, None, (), None, True)]
    return [
        (
            url,
            b["page_num"],
            b["bloc_ord"],
            b["x0"],
            b["y0"],
            b["x1"],
            b["y1"],
            b["text"],
            tuple((p["italic"], p["bold"], p["begin"], p["end"], p["fontname"]) for p in b["props"]),
            None,
            False,
        )
        for b in blocs
    ]


def test_extract_counts_and_errors(spark):
    """Row-level differential: every extract_blocs row, all 11 columns,
    equals the driver-local extract_doc view, with and without style runs
    — doc 500's corrupt payload and a NULL html each yield one error
    sentinel row."""
    docs = [(d["url"], d["html"]) for d in map(gen_doc, [*range(N_DOCS), 500])]
    docs.append(("https://synth.test/null-html", None))
    pages = (
        build_pages_df(spark, N_DOCS, partitions=8)
        .select("url", "html")
        .union(spark.createDataFrame(docs[N_DOCS:], "url string, html binary"))
    )
    for extract_style in (True, False):
        blocs = extract_blocs(pages, extract_style=extract_style)
        assert blocs.columns == [f.name for f in BLOC_SCHEMA.fields]
        got = Counter(
            tuple(r[:8]) + (tuple(tuple(p) for p in r.props), r.label, r.error)
            for r in blocs.collect()
        )
        expected = Counter(
            row for url, html in docs for row in _oracle_bloc_rows(url, html, extract_style)
        )
        assert got == expected, extract_style
        assert sum(n for row, n in got.items() if row[-1]) == 2
        # style runs really reached the rows
        assert any(row[8] for row in got) == extract_style
