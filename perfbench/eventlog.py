"""Reduce a Spark event log to per-run engine metrics.

Spark 4 writes a rolling log directory ``eventlog_v2_<app>/`` holding
``events_<n>_<app>[.<codec>]`` files of JSON lines.  The benchmark turns
compression off, but zstd files are read too (pyarrow decodes them).

Only jobs submitted inside a time window count, so set-up, warm-up and
the untraced pass of a traced run stay out of the figures.  A stage is
counted once it completed; stages a job lists but skips (their shuffle
output is reused) are not.
"""

from __future__ import annotations

import glob
import io
import json
import os
import statistics


def _open(path: str):
    if path.endswith(".zstd"):
        import pyarrow as pa

        raw = pa.CompressedInputStream(pa.OSFile(path), "zstd")
        return io.TextIOWrapper(io.BufferedReader(raw), encoding="utf-8")
    return open(path, encoding="utf-8")


def read_events(log_dir: str) -> list[dict]:
    """All events of the one application logged under ``log_dir``."""
    apps = glob.glob(os.path.join(log_dir, "eventlog_v2_*"))
    if len(apps) != 1:
        raise ValueError(f"expected one event log under {log_dir}: {apps}")
    files = glob.glob(os.path.join(apps[0], "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for path in files:
        with _open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def reduce_events(events: list[dict], t0_ms: float, t1_ms: float) -> dict:
    """``spark.*`` metrics of the jobs submitted in ``[t0_ms, t1_ms]``."""
    stage_ids: set[int] = set()
    jobs = 0
    for e in events:
        if (
            e["Event"] == "SparkListenerJobStart"
            and t0_ms <= e["Submission Time"] <= t1_ms
        ):
            jobs += 1
            stage_ids.update(e["Stage IDs"])
    stages = sum(
        1
        for e in events
        if e["Event"] == "SparkListenerStageCompleted"
        and e["Stage Info"]["Stage ID"] in stage_ids
    )
    tot = dict.fromkeys(
        ("run_ms", "cpu_ns", "gc_ms", "sw", "sr", "spill", "input"), 0
    )
    run_by_stage: dict[int, list[int]] = {}
    tasks = 0
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        if e["Stage ID"] not in stage_ids or "Task Metrics" not in e:
            continue
        m = e["Task Metrics"]
        tasks += 1
        tot["run_ms"] += m["Executor Run Time"]
        tot["cpu_ns"] += m["Executor CPU Time"]
        tot["gc_ms"] += m["JVM GC Time"]
        tot["spill"] += m["Disk Bytes Spilled"]
        tot["sw"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        sr = m["Shuffle Read Metrics"]
        tot["sr"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
        tot["input"] += m["Input Metrics"]["Bytes Read"]
        run_by_stage.setdefault(e["Stage ID"], []).append(
            m["Executor Run Time"]
        )
    return {
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.executor_run_s": tot["run_ms"] / 1e3,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.shuffle_write_mb": tot["sw"] / 1e6,
        "spark.shuffle_read_mb": tot["sr"] / 1e6,
        "spark.spill_mb": tot["spill"] / 1e6,
        "spark.input_mb": tot["input"] / 1e6,
        "spark.task_skew": task_skew(run_by_stage),
    }


def task_skew(run_by_stage: dict[int, list[int]]) -> float:
    """Largest max/median task run time over stages with at least two
    tasks and 100 ms of run time in all; 1.0 when no stage qualifies.
    Medians are floored at 1 ms, the log's resolution."""
    worst = 1.0
    for runs in run_by_stage.values():
        if len(runs) < 2 or sum(runs) < 100:
            continue
        worst = max(worst, max(runs) / max(statistics.median(runs), 1))
    return worst
