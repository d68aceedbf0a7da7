"""Reference golden-PDF fixtures as DataFrame-level assertions (SURVEY §5).

The reference's extractor tests assert exact bloc lists for its real PDFs
(``tests/pipes/extractors/test_pdfminer.py:8-13`` over
``blocks_ground_truth.py`` — 41 test.pdf + 2 styles.pdf + 0 blank.pdf + 48
letter.pdf TextBoxes, coords tol 5e-2, text exact). pdfminer.six is not
installable in this sandbox, so the bytes→bloc parse itself cannot be run
here; instead the GOLDEN OUTPUT — real pdfminer geometry over real PDFs —
is loaded straight from the reference tree (parsed with ``ast``, nothing
copied into this repo) and driven through every downstream stage:

* reading order: shuffling the golden blocs and applying our ``Box.__lt__``
  replication must restore the reference's exact order (the ground truth is
  stored in reference reading order, ``pdfminer.py:176-184``);
* mask classifier on real geometry (broadcast-join plan == literal plan);
* simple aggregator: byte-exact text with separators independently
  re-derived from the reference's dy/median rules
  (``pipes/aggregators/simple.py:139-164``).

If pdfminer ever becomes installable, add the differential bytes→bloc test
on ``tests/resources/*.pdf`` (documented in SURVEY §5).
"""

from __future__ import annotations

import ast
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

GROUND_TRUTH = "/root/reference/tests/pipes/extractors/blocks_ground_truth.py"

pytestmark = pytest.mark.skipif(
    not os.path.exists(GROUND_TRUTH), reason="reference tree not available"
)


def _load_golden():
    """Parse the reference ground-truth lists without importing edspdf."""
    tree = ast.parse(open(GROUND_TRUTH).read())
    out = {}
    for node in tree.body:
        if isinstance(node, ast.Assign) and isinstance(node.value, ast.List):
            name = node.targets[0].id
            rows = []
            for call in node.value.elts:
                kw = {k.arg: ast.literal_eval(k.value) for k in call.keywords}
                rows.append(kw)
            out[name] = rows
    return out


@pytest.fixture(scope="module")
def golden():
    return _load_golden()


def _blocs_df(spark, rows, url):
    from edspdf_spark.schemas import BLOC_SCHEMA

    data = [
        (
            url,
            r["page_num"],
            i,
            r["x0"],
            r["y0"],
            r["x1"],
            r["y1"],
            r["text"],
            [],
            None,
            False,
        )
        for i, r in enumerate(rows)
    ]
    return spark.createDataFrame(data, BLOC_SCHEMA)


def test_golden_counts(golden):
    # reference test_pdfminer.py golden cardinalities
    assert len(golden["pdf_blocks"]) == 41
    assert len(golden["styles_blocks"]) == 2
    assert len(golden["blank_blocks"]) == 0
    assert len(golden["letter_blocks"]) == 48


def _ref_lt(a, b):
    """Independent transcription of the reference comparator
    (``structures.py:189-226``) over our (page, x0, y0, x1, y1, ...) tuples.
    The comparator is fuzzy and NON-transitive — ``sorted`` output depends
    on the input arrangement, so equality of full sorts is only meaningful
    from the same starting order."""
    ap = a[0] or 0
    bp = b[0] or 0
    if ap < bp:
        return True
    if ap > bp:
        return False
    alpha, beta = 0.2, 0.8
    ax0 = a[1] * beta + a[3] * alpha
    ax1 = a[1] * alpha + a[3] * beta
    ay0 = a[2] * beta + a[4] * alpha
    ay1 = a[2] * alpha + a[4] * beta
    bx0 = b[1] * beta + b[3] * alpha
    bx1 = b[1] * alpha + b[3] * beta
    by0 = b[2] * beta + b[4] * alpha
    by1 = b[2] * alpha + b[4] * beta
    dy0 = by1 - ay0
    dy1 = by0 - ay1
    if dy0 > 0 and dy1 > 0:
        return True
    if dy0 < 0 and dy1 < 0:
        return False
    dx0 = bx1 - ax0
    dx1 = bx0 - ax1
    if dx0 > 0 and dx1 > 0:
        return True
    if dx0 < 0 and dx1 < 0:
        return False
    return ((a[2] + a[4]) / 2, (a[1] + a[3]) / 2) < ((b[2] + b[4]) / 2, (b[1] + b[3]) / 2)


def _as_tuples(rows):
    return [
        (r["page_num"], r["x0"], r["y0"], r["x1"], r["y1"], i)
        for i, r in enumerate(rows)
    ]


def test_comparator_agrees_with_reference_on_all_real_pairs(golden):
    """Every pairwise decision of our comparator kernel == the reference
    ``Box.__lt__`` arithmetic, on every pair of REAL pdfminer geometry."""
    from edspdf_spark.kernel.reading_order import _cmp

    for name in ("pdf_blocks", "styles_blocks", "letter_blocks"):
        boxes = _as_tuples(golden[name])
        for a in boxes:
            for b in boxes:
                assert (_cmp(a, b) < 0) == _ref_lt(a, b), (name, a[5], b[5])


def test_sort_matches_reference_sorted_from_same_start(golden):
    """Full sort path (incl. the argsort fast path and its gating) ==
    Python ``sorted`` over the reference comparator, from the same input
    arrangement — on the golden order AND on deterministic shuffles."""
    from functools import cmp_to_key

    from edspdf_spark.kernel.reading_order import sort_reading_order

    ref_key = cmp_to_key(lambda a, b: -1 if _ref_lt(a, b) else (1 if _ref_lt(b, a) else 0))
    for name in ("pdf_blocks", "styles_blocks", "letter_blocks"):
        boxes = _as_tuples(golden[name])
        by_page: dict = {}
        for b in boxes:
            by_page.setdefault(b[0], []).append(b)
        rng = np.random.default_rng(11)
        for page, page_boxes in by_page.items():
            arrangements = [list(page_boxes)] + [
                [page_boxes[j] for j in rng.permutation(len(page_boxes))]
                for _ in range(3)
            ]
            for arr in arrangements:
                ours = sort_reading_order(list(arr))
                ref = sorted(arr, key=ref_key)
                assert [b[5] for b in ours] == [b[5] for b in ref], (name, page)


def test_golden_order_is_fixed_point_for_single_column_pages(golden):
    """For single-column pages (test.pdf, styles.pdf) the golden order has
    no adjacent comparator inversions, so our sort must be the identity on
    it. (letter.pdf has side-by-side columns where the non-transitive
    comparator leaves adjacent inversions even in the reference's own
    output — identity is not a valid invariant there.)"""
    from edspdf_spark.kernel.reading_order import sort_reading_order

    for name in ("pdf_blocks", "styles_blocks"):
        boxes = _as_tuples(golden[name])
        by_page: dict = {}
        for b in boxes:
            by_page.setdefault(b[0], []).append(b)
        for page, page_boxes in by_page.items():
            out = sort_reading_order(list(page_boxes))
            assert [b[5] for b in out] == [b[5] for b in page_boxes], (name, page)


def test_mask_classifier_on_golden_geometry(spark, golden):
    """The reference's single-mask factory semantics (mask.py:69-82) on real
    geometry: top-half mask labels the upper boxes body, the rest
    pollution."""
    from edspdf_spark.operators.classify import classify_mask

    blocs = _blocs_df(spark, golden["pdf_blocks"], "test.pdf")
    out = classify_mask(blocs, [("body", 0.0, 0.0, 1.0, 0.5)], threshold=0.1)
    a = {r["bloc_ord"]: r["label"] for r in out.collect()}
    for i, r in enumerate(golden["pdf_blocks"]):
        # the mask wins iff overlap/box_area >= threshold and covered-src
        # beats the pollution catch-all — for these axis-aligned boxes that
        # reduces to: any part of the box above y=0.5
        expected = "body" if r["y0"] < 0.5 else "pollution"
        assert a[i] == expected, (i, r["y0"], r["y1"], a[i])


def _expected_aggregate(rows, new_line=0.2, new_paragraph=1.5):
    """Independent re-derivation of the reference separator rules
    (simple.py:139-164): dy = next.y1 - cur.y1 between consecutive
    same-page lines, height = median line height of the group, '\\n\\n' on
    page change or dy/height > 1.5, '\\n' if > 0.2, else ' '."""
    heights = sorted(r["y1"] - r["y0"] for r in rows)
    n = len(heights)
    med = (
        heights[n // 2]
        if n % 2
        else (heights[n // 2 - 1] + heights[n // 2]) / 2.0
    )
    pieces = [rows[0]["text"]]
    for prev, cur in zip(rows, rows[1:]):
        if cur["page_num"] != prev["page_num"]:
            sep = "\n\n"
        else:
            dy = cur["y1"] - prev["y1"]
            if dy / med > new_paragraph:
                sep = "\n\n"
            elif dy / med > new_line:
                sep = "\n"
            else:
                sep = " "
        pieces.append(sep)
        pieces.append(cur["text"])
    return "".join(pieces)


@pytest.mark.parametrize("name", ["pdf_blocks", "styles_blocks", "letter_blocks"])
def test_aggregator_byte_exact_on_golden_geometry(spark, golden, name):
    from edspdf_spark.operators import aggregate_simple, classify_mask

    rows = golden[name]
    blocs = _blocs_df(spark, rows, name)
    labeled = classify_mask(blocs, [("body", 0.0, 0.0, 1.0, 1.0)], threshold=0.1)
    out = aggregate_simple(labeled).filter(F.col("label") == "body").collect()
    assert len(out) == 1
    assert out[0]["text"] == _expected_aggregate(rows)


def test_blank_page_yields_no_aggregates(spark, golden):
    from edspdf_spark.operators import aggregate_simple, classify_mask

    blocs = _blocs_df(spark, golden["blank_blocks"], "blank.pdf")
    out = aggregate_simple(
        classify_mask(blocs, [("body", 0.0, 0.0, 1.0, 1.0)], threshold=0.1)
    )
    assert out.count() == 0
