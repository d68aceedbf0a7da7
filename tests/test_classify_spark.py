"""Mask classifier / alignment as DataFrame plans — reference unit fixtures.

Re-expresses /root/reference/tests/pipes/classifiers/test_mask.py:37-58 and
test_align.py:5-36 as DataFrame-level assertions (SURVEY.md §5).
"""

from __future__ import annotations

import pytest

from edspdf_spark.operators.classify import (
    classify_dummy,
    classify_mask,
    classify_random_hash,
    simple_mask_classifier,
)


def labels_of(df):
    rows = df.orderBy("url", "page_num", "bloc_ord").collect()
    return [r.label for r in rows]


def test_simple_mask(spark, single_page_blocs):
    # mask (0, .5, .5, 1) threshold .4 → [pollution, body, body]
    out = simple_mask_classifier(single_page_blocs, 0, 0.5, 0.5, 1, threshold=0.4)
    assert labels_of(out) == ["pollution", "body", "body"]


def test_custom_mask(spark, single_page_blocs):
    # multi-mask body (0, .5, .5, 1) threshold .9 → [pollution, body, pollution]
    out = classify_mask(
        single_page_blocs, [("body", 0.0, 0.5, 0.5, 1.0)], threshold=0.9
    )
    assert labels_of(out) == ["pollution", "body", "pollution"]


def test_multi_page_page_agnostic_masks(spark, multi_page_blocs):
    # page-agnostic masks apply on every page (reference test_align.py)
    out = simple_mask_classifier(multi_page_blocs, 0, 0.5, 0.5, 1, threshold=0.4)
    assert labels_of(out) == ["pollution", "body", "body"] * 2


def test_mask_tie_breaks_to_first_mask(spark, single_page_blocs):
    # two identical masks: np.argmax keeps the FIRST (insertion order)
    out = classify_mask(
        single_page_blocs,
        [("first", 0.0, 0.5, 0.5, 1.0), ("second", 0.0, 0.5, 0.5, 1.0)],
        threshold=0.4,
    )
    assert labels_of(out) == ["pollution", "first", "first"]


def test_zero_area_bloc_gets_first_mask(spark):
    from edspdf_spark.schemas import BLOC_SCHEMA

    blocs = spark.createDataFrame(
        [("doc", 0, 0, 0.5, 0.5, 0.5, 0.5, "pt", [], None, False)], BLOC_SCHEMA
    )
    out = classify_mask(blocs, [("body", 0.0, 0.0, 1.0, 1.0)], threshold=0.5)
    assert labels_of(out) == ["body"]  # all-zero scores → first mask wins


def test_error_rows_pass_through(spark):
    from edspdf_spark.schemas import BLOC_SCHEMA

    blocs = spark.createDataFrame(
        [
            ("doc", 0, 0, 0.1, 0.6, 0.4, 0.7, "foo", [], None, False),
            ("bad", None, None, None, None, None, None, None, [], None, True),
        ],
        BLOC_SCHEMA,
    )
    out = classify_mask(blocs, [("body", 0.0, 0.5, 0.5, 1.0)], threshold=0.4)
    rows = {r.url: r for r in out.collect()}
    assert rows["doc"].label == "body"
    assert rows["bad"].label is None and rows["bad"].error


def test_dummy(spark, single_page_blocs):
    assert labels_of(classify_dummy(single_page_blocs, "x")) == ["x"] * 3


def test_random_deterministic(spark, single_page_blocs):
    out1 = labels_of(classify_random_hash(single_page_blocs, ["a", "b"], salt=7))
    out2 = labels_of(classify_random_hash(single_page_blocs, ["a", "b"], salt=7))
    assert out1 == out2
    assert set(out1) <= {"a", "b"}


def test_random_weighted_all_one_label(spark, single_page_blocs):
    out = labels_of(classify_random_hash(single_page_blocs, {"only": 1.0}, salt=0))
    assert out == ["only"] * 3
