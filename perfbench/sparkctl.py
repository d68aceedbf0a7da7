"""Spark session lifecycle for the benchmark: every session goes through
the engine's own ``get_spark``; this module only adds the benchmark's
confs, keeps every file Spark writes inside the checkout's cache
directory, and tears the JVM down so no process outlives a run."""

from __future__ import annotations

import os
import subprocess
import tempfile
import time

from perfbench.procstat import tree_pids

JVM_OPTS = "-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def isolate_temp_dirs(cache: str) -> None:
    """Point every temp/scratch location of this process, the JVM and the
    Python workers (which inherit the environment) inside ``cache``."""
    tmp = os.path.join(cache, "tmp")
    local = os.path.join(cache, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # HotSpot's perf-data file goes to /tmp whatever java.io.tmpdir says;
    # this covers spark-submit's launcher JVM, the driver JVM gets JVM_OPTS
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_OPTS.format(tmp=tmp)
    tempfile.tempdir = tmp


def start(cache: str, cores: int, event_log_dir: str | None = None):
    """A ``local[cores]`` session from ``get_spark`` with the console
    progress bar off; ``event_log_dir`` turns on an uncompressed,
    non-rolling event log there (traced runs only)."""
    from edspdf_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(cache, "warehouse"),
        "spark.driver.extraJavaOptions": JVM_OPTS.format(tmp=os.environ["TMPDIR"]),
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """Stop the active context, close the py4j gateway, wait for the JVM
    and then for every remaining descendant of this process."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        rest = [p for p in tree_pids() if p != me]
        if not rest:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes outlived the benchmark: {rest}")
            for pid in rest:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 10
        time.sleep(0.1)
        for pid in rest:
            try:  # reap direct children so they do not linger as zombies
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
