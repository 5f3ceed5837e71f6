"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload extract_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Everything the run writes stays under
``.perfbench/`` there: a per-process work directory (deleted at the end)
and, for traced runs, the span file ``.perfbench/spans/<workload>-seed<n>.json``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
timed loop untraced, then again with spans and Spark's event log, and
prints the per-layer metrics.  The last stdout line is the JSON result;
the exit code is 0 only when every output check passed.

``--record-digests`` lands every seed slot's inputs once and rewrites
``perfbench/digests.json``; run it only when an input is meant to change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
DIGESTS = os.path.join(ROOT, "perfbench", "digests.json")
CORES = 4

END_TO_END = {
    "setup_s": "s",
    "pages_per_s": "pages/s",
    "cpu_s_per_kpage": "s/kpage",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "extract.parse_us_per_page": "us",
    "extract.decode_us_per_page": "us",
    **{
        f"extract.rung.{r}_s": "s"
        for r in ("scan", "url_keys", "arrow", "extract", "assemble", "sink")
    },
    "cpu.python_s": "s",
    "cpu.jvm_s": "s",
    "cpu.driver_s": "s",
    "crawl.waves": "count",
    **{
        f"crawl.t.{s}_ms": "ms"
        for s in (
            "frontier_check", "fetch_extract_write", "wave_counts",
            "seen_checkpoint", "next_frontier_plan",
            "next_frontier_prune_plan", "next_frontier", "frontier_write_bg",
        )
    },
    "spark.jobs_per_wave": "count",
    "spark.tasks_per_wave": "count",
    "funnel.frontier_rows": "count",
    "funnel.robots_blocked": "count",
    "funnel.dedup_dropped": "count",
    "funnel.attempted": "count",
    "funnel.fetched": "count",
    "funnel.missed": "count",
    "funnel.fetched_per_attempted": "ratio",
    "funnel.pruned_at_discovery": "count",
    "seen.prior_rows": "count",
    "seen.blob_mb": "MB",
    "catalog.snapshots": "count",
    "catalog.files": "count",
    "catalog.mb_written": "MB",
    "catalog.bytes_per_page": "B/page",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.task_skew": "ratio",
    "jvm.gc_s": "s",
    "trace.overhead_ratio": "ratio",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def java_opts(work: str) -> str:
    """JVM temp files into ``work``, and no ``/tmp/hsperfdata`` file."""
    return f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"


def pin_environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the engine
    importable by the Spark Python workers, whatever the current
    directory."""
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the short-lived JVM that spark-submit runs first to build the command
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts(work)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)


def clear_stale_work() -> None:
    """Remove work directories left by runs that were killed."""
    if not os.path.isdir(STATE):
        return
    for name in os.listdir(STATE):
        if name.startswith("work-") and not os.path.exists(f"/proc/{name[5:]}"):
            shutil.rmtree(os.path.join(STATE, name), ignore_errors=True)


def start_session(work: str, trace: bool):
    from no_fasel_scrapers_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts(work),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark(
        app_name="perfbench", master=f"local[{CORES}]", extra_conf=conf
    )


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    from perfbench.proctree import wait_children_gone

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in wait_children_gone(timeout=30):
        os.kill(pid, 9)
    wait_children_gone(timeout=10)


def end_to_end(session_s: float, o) -> dict[str, float]:
    t = o.timed
    kpages = sum(o.pages) / 1e3
    return {
        "setup_s": session_s + o.land_s + o.warmup_s,
        "pages_per_s": statistics.median(
            n / s for n, s in zip(o.pages, t.seconds)
        ),
        "cpu_s_per_kpage": sum(t.meter.cpu_s.values()) / kpages,
        "peak_rss_mb": t.meter.peak_rss_mb,
    }


def per_layer(o, log_dir: str) -> dict[str, float]:
    from perfbench.eventlog import read_events, reduce_events

    tr = o.traced
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(o.layers)
    out["cpu.python_s"] = tr.meter.cpu_s["python"]
    out["cpu.jvm_s"] = tr.meter.cpu_s["jvm"]
    out["cpu.driver_s"] = tr.meter.cpu_s["driver"]
    out["jvm.gc_s"] = tr.gc_s
    out.update(reduce_events(read_events(log_dir), tr.t0_ms, tr.t1_ms))
    if out["crawl.waves"]:
        out["spark.jobs_per_wave"] = out["spark.jobs"] / out["crawl.waves"]
        out["spark.tasks_per_wave"] = out["spark.tasks"] / out["crawl.waves"]
    out["trace.overhead_ratio"] = statistics.median(tr.seconds) / statistics.median(
        o.timed.seconds
    )
    return out


def record_digests(spark, work: str) -> None:
    from perfbench.workloads import LANDERS, SEED_SLOTS

    table = {}
    for name, land in LANDERS.items():
        table[name] = {}
        for slot in range(SEED_SLOTS):
            table[name][str(slot)] = land(
                spark, os.path.join(work, f"{name}-{slot}"), slot
            )
            log(f"{name} slot {slot}: {table[name][str(slot)]}")
    with open(DIGESTS, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")


def run(args, work: str, t_start: float) -> tuple[dict, int, int]:
    """Run the workload; return (metrics, attempted, failed)."""
    from perfbench.tracing import Tracer
    from perfbench.workloads import SEED_SLOTS, WORKLOADS, Ctx

    with open(DIGESTS) as f:
        recorded = json.load(f).get(args.workload, {}).get(
            str(args.seed % SEED_SLOTS)
        )
    tracer = Tracer(enabled=bool(args.trace))
    with tracer.span("session.start"):
        spark = start_session(work, bool(args.trace))
    session_s = time.monotonic() - t_start
    try:
        ctx = Ctx(
            spark, work, args.seed, args.seconds, tracer, bool(args.trace),
            recorded,
        )
        o = WORKLOADS[args.workload](ctx)
    finally:
        with tracer.span("session.stop"):
            stop_session(spark)
    for p in o.problems:
        log(f"check failed: {p}")
    log(f"inputs: {o.digests}")
    log(f"pages checked: {o.check}")
    log(f"untraced pass seconds: {[round(s, 3) for s in o.timed.seconds]}")
    if args.trace:
        metrics = per_layer(o, os.path.join(work, "eventlog"))
        spans = os.path.join(STATE, "spans")
        os.makedirs(spans, exist_ok=True)
        tracer.write(os.path.join(spans, f"{args.workload}-seed{args.seed}.json"))
    else:
        metrics = end_to_end(session_s, o)
    attempted = max(o.check.expected, 1)
    return metrics, attempted, min(o.failed, attempted)


def main() -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=("extract_bulk", "site_recrawl"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true")
    args = ap.parse_args()
    if not args.record_digests and args.workload is None:
        ap.error("--workload is required")

    clear_stale_work()
    work = os.path.join(STATE, f"work-{os.getpid()}")
    pin_environment(work)
    try:
        import no_fasel_scrapers_spark  # noqa: F401
    except ImportError as ex:
        log(f"the engine package is not importable from {ROOT}: {ex}")
        shutil.rmtree(work, ignore_errors=True)
        return 2
    try:
        if args.record_digests:
            spark = start_session(work, trace=False)
            try:
                record_digests(spark, work)
            finally:
                stop_session(spark)
            return 0
        try:
            metrics, attempted, failed = run(args, work, t_start)
        except Exception:
            # a run that raises counts every page as failed
            traceback.print_exc()
            print(json.dumps({
                "correct": False, "attempted": 1, "failed": 1, "metrics": {},
            }))
            return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    log(f"fail_ratio {failed / attempted:.6f} ({failed}/{attempted})")
    for k in units:
        log(f"  {k:36s} {metrics[k]:14.4f} {units[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
