"""Fixed per-task cost of a Spark Python task that does no work.

Runs an empty ``mapInArrow`` at ``local[2]`` over cached ``fixtures`` pages
split into 2, 4 and 7 tasks; prints wall time and Python-worker CPU (the
``pyspark.daemon`` trees in ``/proc``, reaped workers included) per task.
The closure captures the engine package, as every engine operator's does.

Usage: python tools/worker_task_cost.py [passes]   (default 10 passes)
"""

import os
import sys
import time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import edspdf_spark  # noqa: E402
from edspdf_spark.fixtures import build_pages_df  # noqa: E402
from perfbench.procstat import _stat_fields, tree_cpu_s, tree_pids  # noqa: E402


def _is_daemon(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:  # exited since the listing
        return False


def worker_cpu_s() -> float:
    """CPU-s of the Python daemon trees under this process. Forked workers
    share the daemon's command line, so only tree roots are summed."""
    return sum(tree_cpu_s(p) for p in tree_pids() if _is_daemon(p)
               and not _is_daemon(int((_stat_fields(p) or [0, 0])[1])))


def _count_rows(batches, _engine=edspdf_spark):
    yield pa.RecordBatch.from_pydict({"n": [sum(b.num_rows for b in batches)]})


def main(passes: int) -> None:
    spark = edspdf_spark.get_spark(
        master="local[2]", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    print(f"{'tasks':>5} {'wall_s/task':>12} {'worker_cpu_s/task':>18}")
    for tasks in (2, 4, 7):
        pages = build_pages_df(spark, 100 * tasks, partitions=tasks).cache()
        pages.count()  # materialize the cache outside the timing
        empty = pages.mapInArrow(_count_rows, "n long")
        empty.collect()  # warm-up pass, discarded
        cpu0, t0 = worker_cpu_s(), time.perf_counter()
        for _ in range(passes):
            empty.collect()
        wall, cpu = time.perf_counter() - t0, worker_cpu_s() - cpu0
        print(f"{tasks:>5} {wall / (passes * tasks):>12.4f} {cpu / (passes * tasks):>18.4f}")
        pages.unpersist()
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 10)
