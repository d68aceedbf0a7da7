"""edspdf_spark benchmark: extract → classify → aggregate in a warm
``local[k]`` Spark session, closed loop (one job in flight at a time).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics of ``BENCHMARK.json``, ``--trace 1`` the per-layer
ones. Metric names and units come from ``BENCHMARK.json``; see
``perfbench/README.md`` for what each one measures.

Generated pools, corpora, event logs and trace reports live under
``.perfbench_cache/`` in the repository root; the first run for a given
state of the sources builds the seed-independent pools there.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")

#: Spark cores of every measured session: local[k], k ≤ nproc. k = 2 on
#: a 4-vCPU box leaves the driver JVM, the Python driver and neighbours
#: their own cores; pass-to-pass spread measured ~6% at k=2 vs ~14% at k=4
CORES = min(2, os.cpu_count() or 1)
#: session start + warm-up repetitions; setup_s is their median. Only
#: the first pays the driver's imports and the JVM launch (a single
#: sample, too noisy to gate on: traced runs report it as setup.cold_s);
#: each restart re-spawns the workers
SETUPS = 3
#: documents replayed in-process per traced run
REPLAY_DOCS = 240
MB = float(1 << 20)
_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


#: what the pools are built from: the engine (generators and reference
#: operators) and the benchmark's pool code, document sample and pins
SOURCES = (
    "edspdf_spark",
    "perfbench/pools.py",
    "perfbench/pins.py",
    "perfbench/data",
    "perfbench/pins",
)


def source_key() -> str:
    """Hash of every file in ``SOURCES``: pools and corpora are cached
    under it, so a change to a generator or a reference operator
    rebuilds them."""
    h = hashlib.sha256()
    for src in SOURCES:
        top = os.path.join(ROOT, src)
        paths = [top] if os.path.isfile(top) else [
            os.path.join(d, f)
            for d, dirs, files in os.walk(top)
            if "__pycache__" not in d.split(os.sep)
            for f in files
            if not f.endswith(".pyc")
        ]
        for path in sorted(paths):
            h.update(os.path.relpath(path, ROOT).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def ensure_pools(pool_dir: str) -> None:
    if os.path.isdir(pool_dir):
        return
    _log("building document pools (first run for these sources)")
    # a child process, so the measured run starts from a fresh JVM; its
    # stdout goes to our stderr to keep our last stdout line the result
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--build-pools"],
        check=True,
        stdout=sys.stderr,
        timeout=840,
    )


def build_pools(pool_dir: str, write_pins: bool) -> None:
    from perfbench import pools, sparkctl

    spark = sparkctl.start(CACHE, os.cpu_count() or 1)  # unmeasured: use every core
    try:
        pools.build(pool_dir, spark, write_pins)
    finally:
        sparkctl.shutdown_jvm()


def ensure_corpus(wl, seed: int, key_dir: str) -> tuple[str, dict]:
    """The (workload, seed, size) corpus, generated once and cached."""
    from perfbench.pools import write_warm

    path = os.path.join(key_dir, "corpora", f"{wl.name}-s{seed}-n{wl.size}")
    info_path = os.path.join(path, "info.json")
    if not os.path.exists(info_path):
        tmp = f"{path}.{uuid.uuid4().hex}.partial"
        info = wl.make_corpus(tmp, seed)
        write_warm(tmp, CORES)
        with open(os.path.join(tmp, "info.json"), "w") as f:
            json.dump(info, f)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(info_path) as f:
        return path, json.load(f)


class Window:
    """One timed closed-loop window: ``warm_passes`` discarded full passes
    (the driver JVM's JIT is still compiling for the first full-size
    passes), then whole passes until ``seconds`` have elapsed (at least
    one). Throughput and CPU are totals over the measured passes."""

    def __init__(
        self, spark, wl, corpus, scratch, seconds, phase=None, max_passes=None, warm_passes=1
    ):
        from perfbench.procstat import PeakRss, tree_cpu_s

        for _ in range(warm_passes):
            wl.run_pass(spark, corpus, scratch)
        sc = spark.sparkContext
        if phase:
            sc.setLocalProperty("perfbench.phase", phase)
        self.passes: list[float] = []
        self.cpu: list[float] = []
        with PeakRss() as rss:
            start = time.perf_counter()
            while True:
                c0, t0 = tree_cpu_s(), time.perf_counter()
                wl.run_pass(spark, corpus, scratch)
                t1, c1 = time.perf_counter(), tree_cpu_s()
                self.passes.append(t1 - t0)
                self.cpu.append(c1 - c0)
                if t1 - start >= seconds or len(self.passes) == max_passes:
                    break
            self.wall = time.perf_counter() - start
        self.peak_rss = rss.peak
        if phase:
            sc.setLocalProperty("perfbench.phase", None)
        self.docs = wl.size * len(self.passes)
        self.docs_per_s = self.docs / sum(self.passes)
        self.cpu_s_per_kdoc = sum(self.cpu) / (self.docs / 1000.0)


def setup(wl, corpus, cores=CORES, event_log_dir=None):
    """Session start + scan conf + warm-up pass; returns (spark, seconds).
    The first call in a process also pays ``import pyspark`` /
    ``import edspdf_spark`` and the JVM launch."""
    from perfbench import sparkctl

    t0 = time.perf_counter()
    spark = sparkctl.start(CACHE, cores, event_log_dir)
    wl.prepare(spark, corpus, cores)
    wl.warm(spark, corpus)
    return spark, time.perf_counter() - t0


def check_output(spark, wl, corpus, scratch, info) -> tuple[int, int]:
    import duckdb

    con = duckdb.connect()
    try:
        return wl.check(spark, corpus, scratch, con, info)
    finally:
        con.close()


def timed_run(wl, corpus, info, scratch, seconds) -> tuple[dict, int, int]:
    """Set up cold, check one full pass, measure the window (after its
    discarded pass), then set up twice more (context restarts in the warm
    JVM) for the setup_s median."""
    spark, first = setup(wl, corpus)
    attempted, failed = check_output(spark, wl, corpus, scratch, info)
    _log("set up and checked")
    w = Window(spark, wl, corpus, scratch, seconds)
    setups = [first]
    for _ in range(SETUPS - 1):
        spark.stop()
        spark, s = setup(wl, corpus)
        setups.append(s)
    _log(
        f"{len(w.passes)} passes of {wl.size} docs: "
        + ", ".join(f"{p:.3f}s" for p in w.passes)
        + "; cpu " + ", ".join(f"{c:.2f}s" for c in w.cpu)
        + f"; setups {', '.join(f'{s:.2f}s' for s in setups)}"
    )
    metrics = {
        "docs_per_s": w.docs_per_s,
        "cpu_s_per_kdoc": w.cpu_s_per_kdoc,
        "setup_s": statistics.median(setups),
        "peak_rss_mb": w.peak_rss / MB,
    }
    return metrics, attempted, failed


def traced_run(wl, corpus, info, scratch, seconds) -> tuple[dict, int, int]:
    """Calibration, an untraced window, a traced window (event log +
    benchmark-side spans), for ``payload_fused_skewed`` one crash/resume
    snapshot-job pass over the same corpus, one local[1] pass, then the
    kernel replay. Every window but the job leg's starts with a discarded
    full pass, as in timed runs."""
    from perfbench import eventlog, replay
    from perfbench.workloads import JOB_LEG

    calib = replay.calib_s()

    spark, cold_setup = setup(wl, corpus)
    untraced = Window(spark, wl, corpus, scratch, seconds)
    spark.stop()

    ev_dir = os.path.join(scratch, "eventlog")
    spark, _ = setup(wl, corpus, event_log_dir=ev_dir)
    attempted, failed = check_output(spark, wl, corpus, scratch, info)
    traced = Window(spark, wl, corpus, scratch, seconds, phase="timed")
    job, appends = None, []
    if wl.name == "payload_fused_skewed":
        JOB_LEG.pool_dir = wl.pool_dir
        with _AppendSpans(spark, appends):
            job = Window(
                spark, JOB_LEG, corpus, scratch, 0, phase="job", max_passes=1, warm_passes=0
            )
        job_attempted, job_failed = check_output(spark, JOB_LEG, corpus, scratch, info)
        attempted += job_attempted
        failed += job_failed
    spark.stop()

    spark, _ = setup(wl, corpus, cores=1)
    single = Window(spark, wl, corpus, scratch, 0, max_passes=1)
    spark.stop()
    _log(
        f"untraced {untraced.docs_per_s:.1f} docs/s over {len(untraced.passes)} passes, "
        f"traced {traced.docs_per_s:.1f} over {len(traced.passes)}, local[1] {single.docs_per_s:.1f}"
    )

    events = eventlog.read(ev_dir)
    ev = eventlog.summarize(events, "timed", CORES, traced.wall)
    tr, n_sample = replay.replay(wl.name, corpus, REPLAY_DOCS)
    m = _layer_metrics(ev, tr, n_sample, traced)
    ev_job = eventlog.summarize(events, "job", CORES, job.wall) if job else None
    m.update(_job_metrics(ev_job, job, JOB_LEG.counts if job else {}, appends))
    m["trace.overhead_frac"] = 1.0 - traced.docs_per_s / untraced.docs_per_s
    m["scaling.eff_1_k"] = untraced.docs_per_s / (CORES * single.docs_per_s)
    m["machine.calib_s"] = calib
    m["setup.cold_s"] = cold_setup

    preds = _predictions(wl.name, m, info)
    m["trace.predictions_checked"] = len(preds)
    m["trace.predictions_held"] = sum(1 for _t, held in preds if held)
    for text, held in preds:
        print(f"prediction [{wl.name}] {text}: {'held' if held else 'DID NOT HOLD'}")
    _write_trace_report(wl, info, m, preds, tr, ev)
    return m, attempted, failed


class _AppendSpans:
    """Spans around ``SnapshotTable.append`` with a ``perfbench.span``
    local property, so the event log can tell the Spark job time inside
    each append from the commit bookkeeping around it."""

    def __init__(self, spark, out):
        self.sc, self.out = spark.sparkContext, out

    def __enter__(self):
        from edspdf_spark.sources.snapshots import SnapshotTable

        self.cls, self.orig = SnapshotTable, SnapshotTable.append
        sc, out, orig = self.sc, self.out, self.orig

        def append(table, df, batch_id):
            span = f"append-{len(out)}"
            sc.setLocalProperty("perfbench.span", span)
            t0 = time.perf_counter()
            try:
                ok = orig(table, df, batch_id)
            finally:
                sc.setLocalProperty("perfbench.span", None)
            out.append((span, time.perf_counter() - t0, ok))
            return ok

        SnapshotTable.append = append
        return self

    def __exit__(self, *exc):
        self.cls.append = self.orig


def _job_metrics(ev_job, job, counts, appends) -> dict:
    """Snapshot-job leg metrics; all zero when the leg did not run."""
    ev_job = ev_job or {}
    span_job_s = ev_job.get("_span_job_s", {})
    return {
        "job.pass_s": job.wall if job else 0.0,
        "job.shuffle_write_mb": ev_job.get("exchange.shuffle_write_mb", 0.0),
        "job.shuffle_read_mb": ev_job.get("exchange.shuffle_read_mb", 0.0),
        "job.spill_mb": ev_job.get("exchange.spill_mb", 0.0),
        "snapshots.commits": sum(1 for _s, _w, ok in appends if ok),
        # append wall minus the Spark job time inside it
        "snapshots.commit_overhead_s": sum(w for _s, w, _ok in appends)
        - sum(span_job_s.get(s, 0.0) for s, _w, _ok in appends),
        "job.batches_run": counts.get("batches_run", 0),
        "job.batches_skipped": counts.get("batches_skipped", 0),
        "job.recomputed_batches": counts.get("recomputed_batches", 0),
        "metrics.partition_rows": counts.get("partition_rows", 0),
        "metrics.n_errors": counts.get("n_errors", 0),
    }


KERNEL_TIMES = {
    "kernel.payload.parse_s": ("kernel.payload.parse", 0),
    "kernel.pdf.parse_s": ("kernel.pdf.parse", 0),
    "kernel.style.fold_s": ("kernel.style.fold", 0),
    "kernel.reading_order.sort_s": ("kernel.reading_order.sort", 0),
    "kernel.payload.extract_self_s": ("kernel.payload.extract", 1),
    "kernel.overlap.align_s": ("kernel.overlap.align", 0),
    "kernel.aggregate.aggregate_s": ("kernel.aggregate.aggregate", 0),
    "extract_html.blocks_s": ("extract_html.blocks", 0),
    "extract_html.context_s": ("extract_html.context", 0),
    "extract_html.readability_s": ("extract_html.readability", 0),
    "extract_html.vote_self_s": ("extract_html.consensus", 1),
}


def _layer_metrics(ev, tr, n_sample, traced) -> dict:
    m = {k: v for k, v in ev.items() if not k.startswith("_")}
    totals = tr.totals()
    scale = traced.docs / n_sample  # replay sample → traced window
    for name, (span, col) in KERNEL_TIMES.items():
        m[name] = scale * totals.get(span, (0.0, 0.0))[col]
    c = tr.counts
    m["kernel.docs"] = c.get("docs", 0)
    m["kernel.docs_error"] = c.get("docs_error", 0)
    m["kernel.lines_parsed"] = c.get("lines_parsed", 0)
    m["kernel.blocs_kept"] = c.get("blocs_kept", 0)
    m["kernel.blocs_kept_frac"] = c.get("blocs_kept", 0) / max(1, c.get("lines_parsed", 0))
    m["extract_html.body_lines_kept_frac"] = c.get("kept_body_lines", 0) / max(
        1, c.get("body_lines", 0)
    )

    # where the slot time of the traced window went: idle slots, scan,
    # the replayed per-document work scaled up, exchange, GC; the rest
    # (Arrow encode/decode, worker framework, JVM operators) is unattributed
    top = "extract_html.consensus" if "extract_html.consensus" in totals else "fused.closure"
    python_s = scale * totals.get(top, (0.0, 0.0))[0]
    slot_s = CORES * traced.wall
    attributed = (
        (slot_s - ev["_busy_s"])
        + m["sources.scan_s"]
        + python_s
        + ev["_exchange_s"]
        + m["executor.gc_s"]
    )
    m["trace.unattributed_frac"] = 1.0 - attributed / slot_s
    m["trace.worker_unattributed_frac"] = (
        1.0 - python_s / m["fused.python_worker_s"] if m["fused.python_worker_s"] else 0.0
    )
    m["trace.timed_wall_s"] = traced.wall
    m["trace.passes"] = len(traced.passes)
    return m


def _predictions(name: str, m: dict, info: dict) -> list[tuple[str, bool]]:
    """The predictions written down before measuring (README), for this
    workload."""
    preds = []
    exchange = m["exchange.shuffle_write_mb"] + m["exchange.shuffle_read_mb"]
    if name == "payload_fused_skewed":
        preds.append(("kernel.pdf.parse_s == 0", m["kernel.pdf.parse_s"] == 0))
        preds.append(("job.recomputed_batches == 0", m["job.recomputed_batches"] == 0))
        preds.append(
            (
                f"metrics.n_errors == injected corrupt docs ({info['corrupt']})",
                m["metrics.n_errors"] == info["corrupt"],
            )
        )
    if name in ("payload_fused_skewed", "pdf_fused"):
        preds.append(("exchange bytes == 0 on the fused path", exchange == 0))
    if name == "html_consensus":
        kernel_s = sum(v for k, v in m.items() if k.startswith("kernel.") and k.endswith("_s"))
        preds.append(("no kernel.* time", kernel_s == 0))
    return preds


def _write_trace_report(wl, info, m, preds, tr, ev) -> None:
    out_dir = os.path.join(CACHE, "trace")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{wl.name}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "workload": wl.name,
                "cores": CORES,
                "corpus": info,
                "metrics": m,
                "predictions": [{"text": t, "held": h} for t, h in preds],
                "span_totals": tr.totals(),
                "span_job_s": ev["_span_job_s"],
                "spans": tr.spans,
            },
            f,
        )
    _log(f"trace report: {path}")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-pools", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument(
        "--write-pins",
        action="store_true",
        help="with --build-pools: replace perfbench/pins/ with this build's digests",
    )
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "edspdf_spark")):
        _log(f"no edspdf_spark package in {ROOT}: run from a repository checkout")
        return 2
    from perfbench import sparkctl

    sparkctl.isolate_temp_dirs(CACHE)
    key_dir = os.path.join(CACHE, source_key())
    pool_dir = os.path.join(key_dir, "pools")
    if args.build_pools:
        build_pools(pool_dir, args.write_pins)
        if args.write_pins:  # the pins are sources too: file the pools under the new key
            new_key_dir = os.path.join(CACHE, source_key())
            os.makedirs(new_key_dir, exist_ok=True)
            os.rename(pool_dir, os.path.join(new_key_dir, "pools"))
            if not os.listdir(key_dir):
                os.rmdir(key_dir)
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    spec = load_spec()
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    ensure_pools(pool_dir)
    wl = WORKLOADS[args.workload]
    wl.pool_dir = pool_dir
    corpus, info = ensure_corpus(wl, args.seed, key_dir)
    _log(f"corpus ready: {corpus}")
    scratch = os.path.join(CACHE, "runs", f"{wl.name}-{os.getpid()}")
    os.makedirs(scratch)
    try:
        run = traced_run if args.trace else timed_run
        metrics, attempted, failed = run(wl, corpus, info, scratch, args.seconds)
    finally:
        sparkctl.shutdown_jvm()
        shutil.rmtree(scratch, ignore_errors=True)
    _log("stopped")

    missing = [w["name"] for w in wanted if w["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    for w in wanted:
        print(f"{w['name']:36s} {metrics[w['name']]:14.6f} {w['unit']:8s} ({w['better']} is better)")
    print(
        f"{'docs_failed_frac':36s} {failed / attempted:14.6f} {'frac':8s} "
        f"(lower is better; {failed} of {attempted} checked docs)"
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    w["name"]: {"value": metrics[w["name"]], "unit": w["unit"]}
                    for w in wanted
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
