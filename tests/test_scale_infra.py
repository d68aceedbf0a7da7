"""Skew layout, in-band metrics, forest classifier, pipeline config,
streaming metrics — the scale-hardening layer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from edspdf_spark.fixtures import build_pages_df


def test_repartition_pages_balances_bytes(spark):
    from edspdf_spark.skew import repartition_pages

    pages = build_pages_df(spark, 400, partitions=4)
    balanced = repartition_pages(pages, 8)
    stats = (
        balanced.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(F.sum(F.octet_length("html")).alias("bytes_in"))
        .collect()
    )
    sizes = [r.bytes_in for r in stats]
    assert len(sizes) >= 4
    # skewed giants (every 97th doc has 50x pages) must not all land in one
    # partition: max partition ≤ 4x mean
    assert max(sizes) <= 4 * (sum(sizes) / len(sizes))


def test_scan_partition_bytes_targets_waves():
    from edspdf_spark.skew import ONE_MB, scan_partition_bytes

    # 9 GB at 32 cores × 8 waves → ~36 MB splits
    nine_gb = 9 * 1024 * ONE_MB
    got = scan_partition_bytes(nine_gb, cores=32, waves=8)
    assert got == nine_gb // 256
    assert ONE_MB * 30 < got < ONE_MB * 40
    # clamps: tiny corpus floors at 1 MB, huge one ceils at Spark's 128 MB
    assert scan_partition_bytes(10 * ONE_MB, cores=32) == ONE_MB
    assert scan_partition_bytes(10**15, cores=32) == 128 * ONE_MB


def test_apply_scan_partitioning_sizes_the_scan(spark, tmp_path):
    from edspdf_spark.skew import (
        apply_scan_partitioning,
        local_parquet_bytes,
        scan_partition_bytes,
    )

    path = str(tmp_path / "pages")
    build_pages_df(spark, 800, partitions=16).write.parquet(path)
    total = local_parquet_bytes(path)
    assert total > 0
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        chosen = apply_scan_partitioning(spark, total, cores=4, waves=8)
        assert chosen == scan_partition_bytes(total, 4, 8)
        assert spark.conf.get("spark.sql.files.maxPartitionBytes") == str(chosen)
        n_parts = spark.read.parquet(path).rdd.getNumPartitions()
        # 16 files, 1 MB floor >> file size → files pack into ≤16 splits,
        # and the scan must still see every row exactly once
        assert 1 <= n_parts <= 16
        assert spark.read.parquet(path).count() == 800
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_extract_with_metrics(spark):
    from edspdf_spark.metrics import run_pipeline_fused_with_metrics
    from edspdf_spark.operators import extract_blocs, run_pipeline_fused

    pages = (
        build_pages_df(spark, 600, partitions=4)
        .select("url", "html")
        .union(spark.createDataFrame([("https://synth.test/null-html", None)], "url string, html binary"))
    )
    masks = [("body", 0.2, 0.3, 0.9, 0.6)]
    agg, metrics, cached = run_pipeline_fused_with_metrics(pages, masks, 0.1, run_id="r1")
    try:
        m = metrics.collect()
        blocs = extract_blocs(pages)
        assert sum(r.n_docs for r in m) == 601
        assert sum(r.n_errors for r in m) == 2  # doc 500 is corrupt, plus the NULL html
        assert sum(r.n_errors for r in m) == blocs.filter(F.col("error")).count()
        assert sum(r.n_blocs for r in m) == blocs.filter(~F.col("error")).count()
        assert all(r.run_id == "r1" for r in m)
        assert all(r.wall_ms >= 0 for r in m)
        total_len, max_len = pages.agg(F.sum(F.length("html")), F.max(F.length("html"))).first()
        assert sum(r.bytes_in for r in m) == total_len
        assert max(r.bucket for r in m) == max_len.bit_length()
        # the aggregate face is exactly run_pipeline_fused on the same pages
        plain = run_pipeline_fused(pages, masks, threshold=0.1)
        assert agg.count() > 0
        assert agg.exceptAll(plain).count() == 0
        assert plain.exceptAll(agg).count() == 0
    finally:
        cached.unpersist()


def test_forest_classifier_agrees_with_masks(spark):
    from edspdf_spark.ml.compiled import classify_forest_compiled, compile_class_forest
    from edspdf_spark.ml.forest import train_forest_on_masks
    from edspdf_spark.operators import classify_mask, extract_blocs

    pages = build_pages_df(spark, 80, partitions=4)
    blocs = extract_blocs(pages)
    masked = classify_mask(blocs, [("body", 0.1, 0.0, 0.9, 0.5)], threshold=0.1)
    model = train_forest_on_masks(masked, n_trees=4, max_depth=6)
    pred = classify_forest_compiled(blocs, compile_class_forest(model))
    joined = (
        masked.select("url", "page_num", "bloc_ord", F.col("label").alias("truth"))
        .join(pred.select("url", "page_num", "bloc_ord", "label"),
              ["url", "page_num", "bloc_ord"])
    )
    agree = joined.filter(F.col("truth") == F.col("label")).count() / joined.count()
    # the mask is a pure geometric rule over the same features → high agree
    assert agree > 0.9, agree


def test_pipeline_config(spark):
    from edspdf_spark.plans import Pipeline

    pipe = Pipeline.from_config(
        {
            "pipeline": ["extractor", "classifier", "aggregator"],
            "components": {
                "extractor": {"@factory": "extractor", "extract_style": True},
                "classifier": {
                    "@factory": "mask-classifier",
                    "x0": 0.0, "y0": 0.0, "x1": 1.0, "y1": 0.6,
                    "threshold": 0.1,
                },
                "aggregator": {"@factory": "simple-aggregator"},
            },
        }
    )
    out = pipe(build_pages_df(spark, 10, partitions=2))
    rows = out.collect()
    assert rows and {"url", "label", "text", "properties"} <= set(out.columns)


def test_pipeline_unknown_factory():
    from edspdf_spark.plans import Pipeline

    with pytest.raises(KeyError):
        Pipeline.from_config(
            {"pipeline": ["x"], "components": {"x": {"@factory": "nope"}}}
        )


def test_streaming_windowed_metrics(spark, tmp_path):
    from edspdf_spark.streaming import read_pages_stream, windowed_ingest_metrics

    src = str(tmp_path / "msrc")
    out = str(tmp_path / "mout")
    ckpt = str(tmp_path / "mckpt")
    build_pages_df(spark, 50, partitions=2).write.parquet(src)
    stream = read_pages_stream(spark, src, max_files_per_trigger=2)
    q = windowed_ingest_metrics(stream, out, ckpt)
    q.awaitTermination(120)
    res = spark.read.parquet(out)
    # append mode with watermark only emits closed windows; availableNow
    # on a finite source closes them at end-of-stream
    assert {"window_start", "lang", "n_docs"} <= set(res.columns)


def test_repartition_pages_honors_salt_bucket_cap(spark):
    from pyspark.sql import functions as F

    from edspdf_spark.fixtures import build_pages_df
    from edspdf_spark.skew import repartition_pages

    pages = build_pages_df(spark, 200)
    # the cap is observable as the number of distinct shuffle keys, which
    # bounds the number of NON-EMPTY partitions
    out = repartition_pages(pages, 16, salt_buckets=4)
    n_nonempty = (
        out.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid").count().count()
    )
    assert n_nonempty <= 16  # keys floored at num_partitions
    out4 = repartition_pages(pages, 4, salt_buckets=4)
    n4 = (
        out4.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid").count().count()
    )
    assert n4 <= 4
