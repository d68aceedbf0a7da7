"""Machine-attribution probe for the saturating scaling pair.

The Spark scaling bench (tools/scaling_bench.py) measures N vs 4N cores on
ONE box, so per-node resources (memory bandwidth, LLC, VM steal) are shared
across the levels — unlike a real cluster, where 4N executors bring 4x the
nodes and 4x the bandwidth. This probe separates "the engine stops scaling"
from "the box stops scaling" by running, at pinned 8 vs 32 processes with
NO Spark/JVM involved:

  1. kernel  — the exact fused per-document kernel (extract_doc_raw →
     align_labels_kernel → aggregate_doc) over real corpus payloads read
     from the cached scale corpus parquet. Fixed docs per process, so
     perfect scaling = identical wall at both levels.
  2. bandwidth — per-process numpy copies of a 256 MB buffer (far beyond
     LLC), fixed copies per process; reports aggregate GB/s per level.

If (1) shows the same per-core drop as Spark, the ceiling is the machine
(bandwidth/steal), not the engine's plan; (2) quantifies the bandwidth
side directly. Results feed the noise-analysis section of
BENCH/BASELINE.md.

Process i is pinned to the i-th CPU this process may run on, so a level
larger than that CPU set is refused before any process starts.

Usage: python tools/machine_probe.py [kernel|bandwidth|both]
Prints progress to stderr and the result JSON to stdout; writes no file.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPUS = os.environ.get("PROBE_CORPUS", "/tmp/edspdf_scale_corpus_240000")
DOCS_PER_PROC = int(os.environ.get("PROBE_DOCS_PER_PROC", "12000"))
COPIES_PER_PROC = int(os.environ.get("PROBE_COPIES_PER_PROC", "40"))
LEVELS = [int(x) for x in os.environ.get("PROBE_LEVELS", "8,32").split(",")]
REPS = int(os.environ.get("PROBE_REPS", "3"))

_PAYLOADS: list = []  # loaded pre-fork; children inherit via COW


def _load_payloads(n: int) -> list:
    import pyarrow.dataset as ds

    tbl = ds.dataset(CORPUS).head(n, columns=["html"])
    return tbl.column("html").to_pylist()


def _kernel_proc(core: int, n_docs: int, barrier, out_q) -> None:
    os.sched_setaffinity(0, {core})
    import numpy as np

    from edspdf_spark.kernel.aggregate import aggregate_doc
    from edspdf_spark.kernel.overlap import align_labels_kernel
    from edspdf_spark.kernel.payload import extract_doc_raw
    from edspdf_spark.operators.classify import MASK_INF

    src = np.array(
        [[0.2, 0.9, 0.3, 0.6], [-MASK_INF, MASK_INF, -MASK_INF, MASK_INF]],
        dtype=np.float64,
    )
    labels = ["body", "pollution"]
    payloads = _PAYLOADS
    m = len(payloads)
    # warm the code paths before the barrier so JIT-ish costs stay out
    for html in payloads[:50]:
        blocs, _p, err = extract_doc_raw(html)
        if err or not blocs:
            continue
        dst = np.array([[b[2], b[4], b[3], b[5]] for b in blocs])
        idx = align_labels_kernel(src, dst, 0.1)
        aggregate_doc(
            [
                (b[0], b[2], b[3], b[4], b[5], b[6], b[7], labels[i] if i < 2 else None)
                for b, i in zip(blocs, idx)
            ]
        )
    barrier.wait()
    t0 = time.perf_counter()
    done = 0
    i = core * 131  # offset so processes don't walk the same cache lines
    while done < n_docs:
        html = payloads[i % m]
        i += 1
        done += 1
        blocs, _p, err = extract_doc_raw(html)
        if err or not blocs:
            continue
        dst = np.array([[b[2], b[4], b[3], b[5]] for b in blocs])
        idx = align_labels_kernel(src, dst, 0.1)
        aggregate_doc(
            [
                (b[0], b[2], b[3], b[4], b[5], b[6], b[7], labels[i] if i < 2 else None)
                for b, i in zip(blocs, idx)
            ]
        )
    out_q.put(time.perf_counter() - t0)


def _bw_proc(core: int, copies: int, barrier, out_q) -> None:
    os.sched_setaffinity(0, {core})
    import numpy as np

    a = np.ones(32 * 1024 * 1024, dtype=np.float64)  # 256 MB
    b = np.empty_like(a)
    np.copyto(b, a)  # touch both
    barrier.wait()
    t0 = time.perf_counter()
    for _ in range(copies):
        np.copyto(b, a)
    out_q.put(time.perf_counter() - t0)


def pin_cpus(nprocs: int) -> list:
    """The first ``nprocs`` CPUs of this process's affinity set, one per
    probe process; raises if the set is smaller."""
    cpus = sorted(os.sched_getaffinity(0))
    if nprocs > len(cpus):
        raise ValueError(
            f"level {nprocs} exceeds the {len(cpus)} CPUs this process may run on"
        )
    return cpus[:nprocs]


def run_level(target, nprocs: int, work: int) -> float:
    cpus = pin_cpus(nprocs)
    ctx = mp.get_context("fork")
    barrier = ctx.Barrier(nprocs)
    out_q = ctx.Queue()
    procs = [
        ctx.Process(target=target, args=(c, work, barrier, out_q)) for c in cpus
    ]
    for p in procs:
        p.start()
    walls = [out_q.get() for _ in procs]
    for p in procs:
        p.join()
    return max(walls)  # level wall = slowest proc


def main() -> None:
    what = sys.argv[1] if len(sys.argv) > 1 else "both"
    pin_cpus(max(LEVELS))  # refuse an unpinnable level before loading anything
    result: dict = {"levels": LEVELS, "reps": REPS}

    if what in ("kernel", "both"):
        global _PAYLOADS
        _PAYLOADS = _load_payloads(max(DOCS_PER_PROC, 20000))
        ker = {}
        for rep in range(REPS):
            for n in LEVELS:  # interleaved like the Spark bench
                ker.setdefault(n, []).append(run_level(_kernel_proc, n, DOCS_PER_PROC))
                print(f"kernel rep {rep} n={n}: {ker[n][-1]:.2f}s", file=sys.stderr)
        result["kernel"] = {
            str(n): {
                "walls": [round(w, 3) for w in ker[n]],
                "docs_per_sec_best": round(n * DOCS_PER_PROC / min(ker[n]), 1),
                "per_core_docs_per_sec_best": round(DOCS_PER_PROC / min(ker[n]), 1),
            }
            for n in LEVELS
        }
        lo, hi = LEVELS[0], LEVELS[-1]
        result["kernel"]["per_core_ratio_best"] = round(
            min(ker[lo]) / min(ker[hi]), 3
        ) if min(ker[hi]) else None
        # fixed work per proc: efficiency = wall(lo) / wall(hi)
        result["kernel"]["efficiency_best"] = round(min(ker[lo]) / min(ker[hi]), 3)

    if what in ("bandwidth", "both"):
        bw = {}
        for rep in range(REPS):
            for n in LEVELS:
                bw.setdefault(n, []).append(run_level(_bw_proc, n, COPIES_PER_PROC))
                print(f"bw rep {rep} n={n}: {bw[n][-1]:.2f}s", file=sys.stderr)
        gb = COPIES_PER_PROC * 0.25 * 2  # read+write per copy, GB
        result["bandwidth"] = {
            str(n): {
                "walls": [round(w, 3) for w in bw[n]],
                "aggregate_gb_per_sec_best": round(n * gb / min(bw[n]), 1),
            }
            for n in LEVELS
        }
        lo, hi = LEVELS[0], LEVELS[-1]
        result["bandwidth"]["efficiency_best"] = round(min(bw[lo]) / min(bw[hi]), 3)

    print(json.dumps(result, indent=1))


if __name__ == "__main__":
    main()
