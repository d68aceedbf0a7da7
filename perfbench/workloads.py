"""The workloads: how each builds its corpus, warms a session, runs
one closed-loop pass (one Spark job in flight at a time) and checks its
output against its reference and the committed pins.

Every call into the engine goes through its public functions; nothing
here reimplements a layer.
"""

from __future__ import annotations

import json
import os
import uuid


from perfbench import check, pools


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _corpus_urls(corpus: str) -> str:
    return f"SELECT url FROM read_parquet('{corpus}/pages/*.parquet')"


class Workload:
    name = ""
    #: documents per corpus (one pass = one corpus)
    size = 0
    #: apply ``skew.apply_scan_partitioning`` before reading the corpus
    scan_split = False
    #: the pool the corpus is drawn from (a directory under ``pool_dir``)
    pool = ""
    #: where the seed-independent pools and their references live
    pool_dir = ""

    def make_corpus(self, out: str, seed: int) -> dict:
        """Write the seed's corpus under ``out``; returns its doc and
        corrupt-doc counts."""
        raise NotImplementedError

    def prepare(self, spark, corpus: str, cores: int) -> None:
        if self.scan_split:
            from edspdf_spark.skew import apply_scan_partitioning, local_parquet_bytes

            apply_scan_partitioning(
                spark, local_parquet_bytes(corpus + "/pages"), cores
            )

    def frame(self, spark, pages_path: str):
        """The measured operator over a pages table."""
        raise NotImplementedError

    def warm(self, spark, corpus: str) -> None:
        """Run the operator on the small multi-file warm-up table, one task
        per file, so every Python worker imports the kernels."""
        _noop(self.frame(spark, corpus + "/warm"))

    def run_pass(self, spark, corpus: str, scratch: str) -> None:
        _noop(self.frame(spark, corpus + "/pages"))

    def check(self, spark, corpus: str, scratch: str, con, info: dict) -> tuple[int, int]:
        """(docs attempted, docs failed) of one checked pass over the whole
        corpus, run before the timed window; the DuckDB self-test runs on
        the same output."""
        out = os.path.join(scratch, "check")
        self.frame(spark, corpus + "/pages").write.mode("overwrite").parquet(out)
        return info["docs"], check.verify(
            con, self.expected(corpus), self.got(out), self.disputed(corpus)
        )

    def expected(self, corpus: str) -> str:
        raise NotImplementedError

    def disputed(self, corpus: str) -> str:
        """Corpus urls drawn from a pool key that differs from its pin."""
        keys = os.path.join(self.pool_dir, self.pool, "disputed")
        return (
            f"SELECT key AS url FROM read_parquet('{keys}/*.parquet') "
            f"WHERE key IN ({_corpus_urls(corpus)})"
        )

    def got(self, out: str) -> str:
        raise NotImplementedError


class PayloadFused(Workload):
    name = "payload_fused_skewed"
    size = 1200
    scan_split = True
    pool = "payload"
    agg_cols = "url, label, text, properties"

    def make_corpus(self, out, seed):
        return pools.payload_corpus(self.pool_dir, out, seed, self.size)

    def frame(self, spark, pages_path):
        from edspdf_spark.operators import run_pipeline_fused

        return run_pipeline_fused(
            spark.read.parquet(pages_path), pools.PAYLOAD_MASKS, threshold=pools.THRESHOLD
        )

    def expected(self, corpus):
        ref = os.path.join(self.pool_dir, "payload/ref")
        return (
            f"SELECT {self.agg_cols} FROM read_parquet('{ref}/*.parquet') "
            f"WHERE url IN ({_corpus_urls(corpus)})"
        )

    def got(self, out):
        return f"SELECT {self.agg_cols} FROM read_parquet('{out}/*.parquet')"


class PdfFused(Workload):
    name = "pdf_fused"
    size = 1000
    pool = "pdf"

    def make_corpus(self, out, seed):
        return pools.pdf_corpus(self.pool_dir, out, seed, self.size)

    def frame(self, spark, pages_path):
        from edspdf_spark.operators import run_pipeline_fused

        return run_pipeline_fused(
            spark.read.parquet(pages_path), pools.PDF_MASKS, threshold=pools.THRESHOLD
        )

    def expected(self, corpus):
        docs = f"SELECT * FROM read_parquet('{corpus}/documents/*.parquet')"
        return check.PDF_ORACLE.replace("{documents}", docs)

    def got(self, out):
        return f"SELECT url, label, text FROM read_parquet('{out}/*.parquet')"

    def disputed(self, corpus):
        keys = os.path.join(self.pool_dir, "pdf/disputed")
        return (
            f"SELECT 'doc://' || doc_id AS url "
            f"FROM read_parquet('{corpus}/documents/*.parquet') "
            f"WHERE CAST(src_id AS VARCHAR) IN (SELECT key FROM read_parquet('{keys}/*.parquet'))"
        )


class HtmlConsensus(Workload):
    name = "html_consensus"
    size = 1500
    pool = "html"
    bloc_cols = "url, page_num, bloc_ord, text, label, error"

    def make_corpus(self, out, seed):
        return pools.html_corpus(self.pool_dir, out, seed, self.size)

    def frame(self, spark, pages_path):
        from edspdf_spark.operators.extract_html import extract_blocs_consensus

        return extract_blocs_consensus(
            spark.read.parquet(pages_path), min_votes=2, context_sensitive=True
        )

    def expected(self, corpus):
        ref = os.path.join(self.pool_dir, "html/ref")
        return (
            f"SELECT {self.bloc_cols} FROM read_parquet('{ref}/*.parquet') "
            f"WHERE url IN ({_corpus_urls(corpus)})"
        )

    def got(self, out):
        return f"SELECT {self.bloc_cols} FROM read_parquet('{out}/*.parquet')"


def _snapshot(table_dir: str) -> dict:
    """The live snapshot of a ``sources.snapshots`` table, read straight
    from its documented on-disk layout (``snapshots/CURRENT`` →
    ``snapshots/v{N}.json``)."""
    snap_dir = os.path.join(table_dir, "snapshots")
    with open(os.path.join(snap_dir, "CURRENT")) as f:
        version = int(f.read().strip())
    with open(os.path.join(snap_dir, f"v{version}.json")) as f:
        return json.load(f)


class SnapshotJobLeg(PayloadFused):
    """``job.run_snapshot_job`` over the payload corpus, crashed after
    half its batches (``limit_batches``) and then resumed; one pass = both
    calls into a fresh table directory. Run once per traced
    ``payload_fused_skewed`` run: the only path with the url shuffle, the
    in-band ``metrics`` frame and ``sources.snapshots`` commits."""

    name = "snapshot_job_resume"
    n_batches = 2

    def __init__(self):
        self.last_pass: dict = {}
        self.counts: dict = {}

    def run_pass(self, spark, corpus, scratch):
        from edspdf_spark.job import run_snapshot_job

        pages = spark.read.parquet(corpus + "/pages")
        base = os.path.join(scratch, f"job-{uuid.uuid4().hex}")
        kw = dict(masks=pools.PAYLOAD_MASKS, threshold=pools.THRESHOLD, n_batches=self.n_batches)
        first = run_snapshot_job(spark, pages, base, limit_batches=self.n_batches // 2, **kw)
        second = run_snapshot_job(spark, pages, base, **kw)
        self.last_pass = {"base": base, "first": first, "second": second}

    def job_counts(self) -> dict:
        """Batch bookkeeping of the last pass, from the job's return
        values and the tables' on-disk snapshots."""
        p = self.last_pass
        ran1 = {b for b, ran in p["first"] if ran}
        ran2 = {b for b, ran in p["second"] if ran}
        agg = _snapshot(os.path.join(p["base"], "agg"))
        met = _snapshot(os.path.join(p["base"], "metrics"))
        return {
            "batches_run": len(ran1) + len(ran2),
            "batches_skipped": sum(1 for _b, ran in p["second"] if not ran),
            "recomputed_batches": len(ran1 & ran2),
            "agg_batches": agg["batches"],
            "metrics_batches": met["batches"],
            "agg_files": sorted(agg["files"]),
            "metrics_files": sorted(met["files"]),
        }

    def check(self, spark, corpus, scratch, con, info):
        """Checks the last pass's committed tables: the final ``agg``
        table must equal the composed-chain reference, every batch must
        be committed exactly once in both tables, no batch may run twice,
        and the in-band metrics must count exactly the injected corrupt
        docs. A bookkeeping fault fails every doc."""
        c = self.job_counts()
        files = ", ".join(f"'{f}'" for f in c["agg_files"])
        got = f"SELECT {self.agg_cols} FROM read_parquet([{files}])"
        failed = check.verify(con, self.expected(corpus), got, self.disputed(corpus))
        mfiles = ", ".join(f"'{f}'" for f in c["metrics_files"])
        rows, n_errors = con.execute(
            f"SELECT count(*), sum(n_errors) FROM read_parquet([{mfiles}])"
        ).fetchone()
        c.update(partition_rows=rows, n_errors=n_errors)
        want = [f"batch-{b:05d}" for b in range(self.n_batches)]
        if (
            c["agg_batches"] != want
            or c["metrics_batches"] != want
            or c["recomputed_batches"] != 0
            or n_errors != info["corrupt"]
        ):
            failed = info["docs"]
        self.counts = c
        return info["docs"], failed


WORKLOADS = {w.name: w for w in (PayloadFused(), PdfFused(), HtmlConsensus())}
JOB_LEG = SnapshotJobLeg()

