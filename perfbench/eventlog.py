"""Offline reader for Spark's JSON event log (traced runs only; the UI
stays off). Reduces the TaskEnd events of the timed window to the
executor, skew, Arrow-boundary and exchange metrics."""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

MB = float(1 << 20)

#: SQL metric names the Python-UDF exec nodes (MapInArrow, MapInPandas,
#: ArrowEvalPython, …) report per task, in ms. In Spark 4.1 the JVM runner
#: derives all three from timestamps the worker sends back: "start" is
#: runner start → worker ``main()`` entry, "initialize" is ``main()`` entry
#: → closure unpickled (reads of the task header and command block on the
#: JVM), and "run" is runner start → worker finish, so it contains the
#: other two
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
SCAN_TIME = "scan time"
#: driver-side scan metric (task input metrics miss Hadoop vectored reads)
FILES_READ = "size of files read"


def _walk_plan(node: dict, python_rows_ids: set, files_read_ids: set) -> None:
    names = {m["name"] for m in node.get("metrics", ())}
    for m in node.get("metrics", ()):
        if m["name"] == "number of output rows" and PY_RUN in names:
            python_rows_ids.add(m["accumulatorId"])
        elif m["name"] == FILES_READ:
            files_read_ids.add(m["accumulatorId"])
    for child in node.get("children", ()):
        _walk_plan(child, python_rows_ids, files_read_ids)


def read(path: str) -> list[dict]:
    events = []
    names = [n for n in os.listdir(path) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {path}, found {names}")
    with open(os.path.join(path, names[0])) as f:
        for line in f:
            events.append(json.loads(line))
    return events


def summarize(events: list[dict], phase: str, cores: int, wall_s: float) -> dict:
    """Metrics over every task of the stages submitted with local property
    ``perfbench.phase == phase``, plus per-span Spark job time (local
    property ``perfbench.span``)."""
    stage_phase: dict[int, str] = {}
    phase_executions: set = set()
    python_rows_ids: set = set()
    files_read_ids: set = set()
    driver_updates: list = []
    job_span: dict[int, tuple[str, int]] = {}
    span_job_s: dict[str, float] = defaultdict(float)
    tasks = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            stage_phase[e["Stage Info"]["Stage ID"]] = props.get("perfbench.phase", "")
            if props.get("perfbench.phase") == phase and "spark.sql.execution.id" in props:
                phase_executions.add(int(props["spark.sql.execution.id"]))
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(e["sparkPlanInfo"], python_rows_ids, files_read_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_updates.append(e)
        elif kind == "SparkListenerJobStart":
            span = (e.get("Properties") or {}).get("perfbench.span")
            if span:
                job_span[e["Job ID"]] = (span, e["Submission Time"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_span:
            span, t0 = job_span[e["Job ID"]]
            span_job_s[span] += (e["Completion Time"] - t0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)

    acc = defaultdict(float)
    stage_run_ms: dict[int, list[float]] = defaultdict(list)
    python_stages = set()
    busy_s = 0.0
    for e in tasks:
        sid = e["Stage ID"]
        if stage_phase.get(sid) != phase:
            continue
        info, tm = e["Task Info"], e.get("Task Metrics") or {}
        busy_s += (info["Finish Time"] - info["Launch Time"]) / 1000.0
        acc["run_ms"] += tm.get("Executor Run Time", 0)
        acc["cpu_ns"] += tm.get("Executor CPU Time", 0)
        acc["gc_ms"] += tm.get("JVM GC Time", 0)
        acc["in_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
        sw = tm.get("Shuffle Write Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        acc["sw_bytes"] += sw.get("Shuffle Bytes Written", 0)
        acc["sw_ns"] += sw.get("Shuffle Write Time", 0)
        acc["sr_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        acc["sr_wait_ms"] += sr.get("Fetch Wait Time", 0)
        acc["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        stage_run_ms[sid].append(tm.get("Executor Run Time", 0))
        for a in info.get("Accumulables", ()):
            name, upd = a.get("Name"), a.get("Update")
            if upd is None:
                continue
            if name in (PY_RUN, PY_START, PY_INIT, PY_SENT, PY_RETURNED, SCAN_TIME):
                acc[name] += float(upd)
                if name == PY_RUN:
                    python_stages.add(sid)
            elif a.get("ID") in python_rows_ids:
                acc["py_rows"] += float(upd)

    files_read = sum(
        float(value)
        for e in driver_updates
        if e["executionId"] in phase_executions
        for acc_id, value in e["accumUpdates"]
        if acc_id in files_read_ids
    )
    skew = [
        (len(v), statistics.median(v) / 1000.0, max(v) / 1000.0)
        for sid, v in stage_run_ms.items()
        if sid in python_stages
    ]
    def med(xs):
        return statistics.median(xs) if xs else 0.0

    p50 = med([s[1] for s in skew])
    return {
        "sources.scan_s": acc[SCAN_TIME] / 1000.0,
        "sources.bytes_in_mb": max(acc["in_bytes"], files_read) / MB,
        "skew.tasks": med([s[0] for s in skew]),
        "skew.task_s_p50": p50,
        "skew.task_s_max": med([s[2] for s in skew]),
        "skew.task_max_over_p50": med([s[2] / s[1] for s in skew if s[1] > 0]),
        "executor.run_s": acc["run_ms"] / 1000.0,
        "executor.cpu_s": acc["cpu_ns"] / 1e9,
        "executor.gc_s": acc["gc_ms"] / 1000.0,
        "executor.slot_occupancy": busy_s / (cores * wall_s),
        "fused.python_worker_s": acc[PY_RUN] / 1000.0,
        "fused.python_boot_s": acc[PY_START] / 1000.0,
        "fused.python_init_s": acc[PY_INIT] / 1000.0,
        "fused.arrow_in_mb": acc[PY_SENT] / MB,
        "fused.arrow_out_mb": acc[PY_RETURNED] / MB,
        "fused.rows_out": acc["py_rows"],
        "exchange.shuffle_write_mb": acc["sw_bytes"] / MB,
        "exchange.shuffle_read_mb": acc["sr_bytes"] / MB,
        "exchange.spill_mb": acc["spill_bytes"] / MB,
        # not metrics of their own; inputs to trace.unattributed_frac
        "_busy_s": busy_s,
        "_exchange_s": acc["sw_ns"] / 1e9 + acc["sr_wait_ms"] / 1000.0,
        "_span_job_s": dict(span_job_s),
    }
