"""Physical-plan regression tests: the properties that make the pipeline
scale are asserted on ``explain()`` output, so a refactor that silently
reintroduces a shuffle, breaks column pruning, or drops a broadcast is
caught by CI, not by a 100 TB run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from edspdf_spark.fixtures import build_pages_df


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pages")
    build_pages_df(spark, 50, partitions=2).write.parquet(path)
    return path


def test_extract_scan_prunes_to_url_html(spark, pages_parquet):
    """Catalyst must push the (url, html) projection into the parquet scan
    — reading warc_ts/text/lang for an extract would be wasted IO at scale."""
    from edspdf_spark.operators import extract_blocs

    pages = spark.read.parquet(pages_parquet)
    plan = plan_of(extract_blocs(pages))
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "url" in scan_line and "html" in scan_line
    assert "warc_ts" not in scan_line and "lang" not in scan_line
    assert "MapInArrow" in plan and "MapInPandas" not in plan


def test_literal_mask_classify_adds_no_shuffle(spark, pages_parquet):
    """The literal-mask classifier is a Project over the extract output —
    any Exchange in its plan is a regression (the join+window path costs a
    full shuffle of the blocs table)."""
    from edspdf_spark.operators import classify_mask, extract_blocs

    pages = spark.read.parquet(pages_parquet)
    blocs = extract_blocs(pages)
    labeled = classify_mask(blocs, [("body", 0.0, 0.0, 1.0, 0.6)], threshold=0.1)
    assert "Exchange" not in plan_of(labeled)


def test_full_pipeline_shuffles_once_per_contract(spark, pages_parquet):
    """extract → literal-mask classify → aggregate: exactly ONE data-sized
    shuffle (the groupBy-url of the aggregator)."""
    from edspdf_spark.operators import aggregate_simple, classify_mask, extract_blocs

    pages = spark.read.parquet(pages_parquet)
    out = aggregate_simple(
        classify_mask(extract_blocs(pages), [("body", 0.0, 0.0, 1.0, 0.6)], 0.1)
    )
    plan = plan_of(out)
    assert plan.count("Exchange hashpartitioning") == 1


def test_filter_pushdown_reaches_scan(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet).filter(F.col("lang") == "en")
    plan = plan_of(pages)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_outline_and_sections_single_url_exchange(spark, pages_parquet):
    """extract_outline/extract_sections: the heading parse is a scan-stage
    projection; the ONLY shuffle is the (url)-keyed window for parent
    pointers / breadcrumbs. No Python stages (zero-UDF contract)."""
    from edspdf_spark.operators import extract_outline, extract_sections

    pages = spark.read.parquet(pages_parquet).select("url", "html")
    for op in (extract_outline, extract_sections):
        plan = plan_of(op(pages))
        assert plan.count("Exchange hashpartitioning") == 1, op.__name__
        assert "url" in next(
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        )
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_structure_extractors_zero_shuffle(spark, pages_parquet):
    """extract_tables / extract_lists / extract_code_blocks are pure
    scan-stage projection chains — any Exchange is a regression."""
    from edspdf_spark.operators import (
        extract_code_blocks,
        extract_lists,
        extract_tables,
    )

    pages = spark.read.parquet(pages_parquet).select("url", "html")
    for op in (extract_tables, extract_lists, extract_code_blocks):
        assert "Exchange" not in plan_of(op(pages)), op.__name__


def test_hard_negatives_exact_single_query_exchange(spark):
    """mine_hard_negatives(exact): partition-local BLAS top-k, then ONE
    query_id-keyed exchange for the global ranking; the positives
    anti-join must broadcast (never shuffle the candidate stream)."""
    import numpy as np

    from edspdf_spark.functions.similarity import mine_hard_negatives

    rng = np.random.default_rng(0)
    rows = [(i, [float(x) for x in rng.normal(size=4)]) for i in range(30)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    positives = spark.createDataFrame([(0, 1)], "query_id long, pos_id long")
    plan = plan_of(
        mine_hard_negatives(corpus, corpus.filter("vec_id = 0"), positives, k=3)
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_discover_scheme_does_not_merge_interned_scalars():
    """Interned Python scalars (small ints, short strings) must never
    identity-merge unrelated keys — only shared non-scalar objects
    (arrays/lists/dicts) compress."""
    from edspdf_spark.plans.collate import (
        batch_compress_dict,
        decompress_dict,
        discover_scheme,
    )

    items = [{"a": 1, "b": 1}, {"a": 3, "b": 7}]
    out = [decompress_dict(c) for c in batch_compress_dict(items)]
    assert out == items
    shared = [4.0, 5.0]
    scheme = discover_scheme({"x": {"v": shared}, "y": {"v": shared}, "n": 2})
    assert "x/v|y/v" in scheme and "n" in scheme
