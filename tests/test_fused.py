"""Fused pipeline == composed pipeline, row for row, byte for byte."""

from __future__ import annotations

from pyspark.sql import functions as F

from edspdf_spark.fixtures import build_pages_df


def _collect_agg(df):
    rows = {}
    for r in df.collect():
        props = tuple(
            (p["italic"], p["bold"], p["begin"], p["end"], p["fontname"])
            for p in (r.properties or [])
        )
        rows[(r.url, r.label)] = (r.text, props)
    return rows


MASKS = [("body", 0.2, 0.3, 0.9, 0.6)]


def test_fused_equals_composed(spark):
    from edspdf_spark.operators import (
        aggregate_simple,
        classify_mask,
        extract_blocs,
        run_pipeline_fused,
    )

    pages = build_pages_df(spark, 700, partitions=4)  # includes giants + corrupt
    composed = aggregate_simple(
        classify_mask(extract_blocs(pages), MASKS, threshold=0.1)
    )
    fused = run_pipeline_fused(pages, MASKS, threshold=0.1)
    a, b = _collect_agg(composed), _collect_agg(fused)
    assert a == b and len(a) > 0


def test_fused_markdown_equals_composed(spark):
    from edspdf_spark.operators import (
        aggregate_markdown,
        classify_mask,
        extract_blocs,
        run_pipeline_fused,
    )

    pages = build_pages_df(spark, 200, partitions=2)
    composed = {
        (r.url, r.label): r.text
        for r in aggregate_markdown(
            classify_mask(extract_blocs(pages), MASKS, threshold=0.1)
        ).collect()
    }
    fused = {
        (r.url, r.label): r.text
        for r in run_pipeline_fused(pages, MASKS, threshold=0.1, markdown=True).collect()
    }
    assert composed == fused


def test_fused_kwargs_parity(spark):
    """sort / thresholds / label_map flow through to the same kernel."""
    from edspdf_spark.operators import (
        aggregate_simple,
        classify_mask,
        extract_blocs,
        run_pipeline_fused,
    )

    kw = dict(sort=True, new_line_threshold=0.1, new_paragraph_threshold=2.0,
              label_map={"content": ["body"], "junk": "pollution"})
    pages = build_pages_df(spark, 150, partitions=2)
    composed = _collect_agg(
        aggregate_simple(classify_mask(extract_blocs(pages), MASKS, threshold=0.1), **kw)
    )
    fused = _collect_agg(run_pipeline_fused(pages, MASKS, threshold=0.1, **kw))
    assert composed == fused
    assert {label for (_, label) in fused} <= {"content", "junk"}


def test_fused_plan_has_no_exchange(spark, tmp_path):
    from edspdf_spark.operators import run_pipeline_fused

    path = str(tmp_path / "pages")
    build_pages_df(spark, 40, partitions=2).write.parquet(path)
    pages = spark.read.parquet(path)
    plan = run_pipeline_fused(pages, MASKS, 0.1)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "url" in scan_line and "html" in scan_line and "warc_ts" not in scan_line
    assert "MapInArrow" in plan and "MapInPandas" not in plan


def test_all_corrupt_corpus_yields_zero_rows(spark):
    """Regression: a batch with zero output rows (all-corrupt documents)
    must produce typed empty columns, not float64 defaults that Arrow
    cannot cast to list<struct>."""
    import pandas as pd

    from edspdf_spark.operators import (
        aggregate_simple,
        classify_mask,
        extract_blocs,
        run_pipeline_fused,
    )

    corrupt = spark.createDataFrame(
        pd.DataFrame({"url": ["u1", "u2"], "html": [b"CORRUPT\n", b"CORRUPT\n"]})
    )
    assert run_pipeline_fused(corrupt, MASKS, 0.1).count() == 0
    assert aggregate_simple(
        classify_mask(extract_blocs(corrupt), MASKS, 0.1)
    ).count() == 0
