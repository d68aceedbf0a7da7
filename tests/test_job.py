"""Batched + streaming snapshot-job drivers: resume, exactly-once,
metrics-table totals, and content identity vs the plain pipeline."""

from pyspark.sql import functions as F

from edspdf_spark.fixtures import build_pages_df
from edspdf_spark.job import (
    job_tables,
    run_pipeline_stream_snapshot,
    run_snapshot_job,
)
from edspdf_spark.operators import aggregate_simple, classify_mask, extract_blocs

MASKS = [("body", 0.2, 0.3, 0.9, 0.6)]


def _expected(pages):
    return aggregate_simple(
        classify_mask(extract_blocs(pages), MASKS, threshold=0.1)
    )


def _rows(df):
    return sorted((r.url, r.label, r.text) for r in df.collect())


def test_job_full_run_matches_pipeline(spark, tmp_path):
    pages = build_pages_df(spark, 120, partitions=4)
    base = str(tmp_path / "job1")
    res = run_snapshot_job(spark, pages, base, masks=MASKS, n_batches=4)
    assert [ran for _, ran in res] == [True] * 4
    agg_t, met_t = job_tables(spark, base)
    assert _rows(agg_t.read()) == _rows(_expected(pages))
    # metrics table: in-band lineage totals must cover every input doc
    mets = met_t.read()
    assert mets.agg(F.sum("n_docs")).first()[0] == 120
    assert met_t.snapshots_df().count() == 4


def test_job_crash_resume_is_exactly_once(spark, tmp_path):
    pages = build_pages_df(spark, 120, partitions=4)
    base = str(tmp_path / "job2")
    # "crash" after 2 batches
    first = run_snapshot_job(
        spark, pages, base, masks=MASKS, n_batches=4, limit_batches=2
    )
    assert [ran for _, ran in first] == [True, True]
    agg_t, met_t = job_tables(spark, base)
    assert len(agg_t.committed_batches()) == 2
    # resume: the two finished batches are skipped, the rest run
    second = run_snapshot_job(spark, pages, base, masks=MASKS, n_batches=4)
    assert [ran for _, ran in second] == [False, False, True, True]
    assert _rows(agg_t.read()) == _rows(_expected(pages))
    # a third run is a complete no-op
    third = run_snapshot_job(spark, pages, base, masks=MASKS, n_batches=4)
    assert [ran for _, ran in third] == [False] * 4
    assert _rows(agg_t.read()) == _rows(_expected(pages))
    assert met_t.read().agg(F.sum("n_docs")).first()[0] == 120


def test_job_crash_between_metrics_and_data_commit(spark, tmp_path):
    """Metrics committed but data not (the one crash window where the two
    tables disagree): the rerun re-runs the batch, the metrics re-append
    is a no-op, and both tables end exactly-once."""
    pages = build_pages_df(spark, 60, partitions=2)
    base = str(tmp_path / "job3")
    from edspdf_spark.job import batch_expr
    from edspdf_spark.metrics import run_pipeline_fused_with_metrics

    part0 = pages.where(batch_expr(2) == 0)
    _, metrics, _ = run_pipeline_fused_with_metrics(
        part0, MASKS, 0.1, run_id="batch-00000"
    )
    agg_t, met_t = job_tables(spark, base)
    met_t.append(metrics, "batch-00000")  # crash here: data never landed
    res = run_snapshot_job(spark, pages, base, masks=MASKS, n_batches=2)
    assert [ran for _, ran in res] == [True, True]
    assert _rows(agg_t.read()) == _rows(_expected(pages))
    assert met_t.read().agg(F.sum("n_docs")).first()[0] == 60
    assert sorted(met_t.committed_batches()) == ["batch-00000", "batch-00001"]


def test_repeated_url_gives_one_aggregate_set_per_record(spark, tmp_path):
    """One url in two input rows (two crawls of one page) is two
    documents: the snapshot job and the stream job give exactly
    run_pipeline_fused's per-record rows, not one merged set per url."""
    from edspdf_spark.operators import run_pipeline_fused
    from edspdf_spark.streaming import read_pages_stream

    first = build_pages_df(spark, 40, partitions=2)
    a, b = first.orderBy("url").limit(2).collect()
    # doc b's payload under doc a's url
    recrawl = spark.createDataFrame(
        [(a.url, b.warc_ts, b.html, b.text, b.lang)], first.schema
    )
    pages = first.union(recrawl)
    expected = _rows(run_pipeline_fused(pages, MASKS, threshold=0.1))
    assert [r[:2] for r in expected].count((a.url, "body")) == 2

    base = str(tmp_path / "rjob")
    run_snapshot_job(spark, pages, base, masks=MASKS, n_batches=2)
    agg_t, _ = job_tables(spark, base)
    assert _rows(agg_t.read()) == expected

    src = str(tmp_path / "rsrc")
    pages.write.parquet(src)
    sbase = str(tmp_path / "rstream")
    q = run_pipeline_stream_snapshot(
        read_pages_stream(spark, src, max_files_per_trigger=1),
        spark,
        sbase,
        checkpoint_dir=str(tmp_path / "rckpt"),
        masks=MASKS,
    )
    q.awaitTermination(120)
    stream_t, _ = job_tables(spark, sbase)
    assert _rows(stream_t.read()) == expected


def test_stream_job_exactly_once(spark, tmp_path):
    pages = build_pages_df(spark, 80, partitions=4)
    src = str(tmp_path / "src")
    pages.write.parquet(src)
    base = str(tmp_path / "sjob")
    from edspdf_spark.streaming.stream import read_pages_stream

    q = run_pipeline_stream_snapshot(
        read_pages_stream(spark, src, max_files_per_trigger=2),
        spark,
        base,
        checkpoint_dir=str(tmp_path / "ckpt"),
        masks=MASKS,
    )
    q.awaitTermination(120)
    agg_t, _ = job_tables(spark, base)
    assert _rows(agg_t.read()) == _rows(_expected(pages))
    n_epochs = len(agg_t.committed_batches())
    assert n_epochs >= 2  # maxFilesPerTrigger=2 over 4 files
    # at-least-once replay of an epoch: idempotent no-op
    some = agg_t.read(version=1)
    assert agg_t.append(some, sorted(agg_t.committed_batches())[0]) is False
    assert _rows(agg_t.read()) == _rows(_expected(pages))


def test_job_crash_resume_through_maintenance(spark, tmp_path):
    """Crash-resume stays exactly-once ACROSS compaction + expiry: the
    first (crashed) run compacts and expires its tables, and the resumed
    run must still skip the committed batches and produce the same
    content as an unmaintained pipeline."""
    pages = build_pages_df(spark, 120, partitions=4)
    base = str(tmp_path / "job_m")
    first = run_snapshot_job(
        spark, pages, base, masks=MASKS, n_batches=4, limit_batches=2,
        compact_every=1, expire_keep_last=1, orphan_min_age_s=0.0,
    )
    assert [ran for _, ran in first] == [True, True]
    agg_t, met_t = job_tables(spark, base)
    # after compact_every=1 + expire(keep_last=1): one snapshot, one file
    assert len(agg_t._snapshot(agg_t.current_version())["files"]) == 1
    assert agg_t.snapshots_df().count() == 1
    assert len(agg_t.committed_batches()) == 2
    second = run_snapshot_job(
        spark, pages, base, masks=MASKS, n_batches=4,
        compact_every=2, expire_keep_last=1, orphan_min_age_s=0.0,
    )
    assert [ran for _, ran in second] == [False, False, True, True]
    assert _rows(agg_t.read()) == _rows(_expected(pages))
    assert met_t.read().agg(F.sum("n_docs")).first()[0] == 120
    # replay after maintenance is still a full no-op
    third = run_snapshot_job(spark, pages, base, masks=MASKS, n_batches=4)
    assert [ran for _, ran in third] == [False] * 4
