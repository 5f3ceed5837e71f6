"""Tests of the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys

import pytest

from perfbench import checks, eventlog, proctree, run
from perfbench.tracing import Tracer

DATA = os.path.join(os.path.dirname(__file__), "data")
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))


# ---------------------------------------------------------------------------
# event-log reducer, on a log recorded from a two-job groupBy on local[2]:
# job 0 runs map stage 0 (4 tasks), job 1 skips stage 1 and runs stage 2


def test_eventlog_whole_log():
    m = eventlog.reduce_events(eventlog.read_events(DATA), 0, 2e12)
    assert m["spark.jobs"] == 2
    assert m["spark.stages"] == 2          # the skipped stage 1 not counted
    assert m["spark.tasks"] == 5
    assert m["spark.executor_run_s"] == pytest.approx(0.569)
    assert m["spark.gc_s"] == pytest.approx(0.042)
    assert m["spark.shuffle_write_mb"] == pytest.approx(4 * 385 / 1e6)
    assert m["spark.shuffle_read_mb"] == pytest.approx(1540 / 1e6)
    assert m["spark.executor_cpu_s"] == pytest.approx(
        (64474320 + 143604852 + 10840259 + 11604977 + 65068931) / 1e9
    )
    # stage 0 runs 204, 210, 21, 28 ms: max 210 over median 116
    assert m["spark.task_skew"] == pytest.approx(210 / 116)


def test_eventlog_window_keeps_only_jobs_submitted_in_it():
    m = eventlog.reduce_events(
        eventlog.read_events(DATA), 1792195545700, 1792195546000
    )
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (1, 1, 1)
    assert m["spark.task_skew"] == 1.0     # one task: no stage qualifies


def test_eventlog_reads_zstd(tmp_path):
    pa = pytest.importorskip("pyarrow")
    src = os.path.join(DATA, "eventlog_v2_local-1", "events_1_local-1")
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    with open(src, "rb") as f, pa.CompressedOutputStream(
        str(app / "events_1_local-1.zstd"), "zstd"
    ) as out:
        out.write(f.read())
    assert eventlog.read_events(str(tmp_path)) == eventlog.read_events(DATA)


# ---------------------------------------------------------------------------
# funnel arithmetic

LINEAGE = [
    {"wave": 0, "frontier_size": 1, "robots_blocked": 0, "dedup_dropped": 0,
     "attempted": 1, "fetched": 1, "missed": 0,
     "t_ms": {"frontier_check": 5, "fetch_extract_write": 100}},
    {"wave": 1, "frontier_size": 10, "robots_blocked": 2, "dedup_dropped": 3,
     "attempted": 5, "fetched": 4, "missed": 1,
     "t_ms": {"fetch_extract_write": 50, "frontier_write_bg": 7}},
]


def test_funnel_sums_and_discovery_prune():
    f = checks.funnel_metrics(LINEAGE, reachable=30)
    assert f["funnel.frontier_rows"] == 11
    assert f["funnel.robots_blocked"] == 2
    assert f["funnel.dedup_dropped"] == 3
    assert f["funnel.attempted"] == 6
    assert f["funnel.fetched"] == 5
    assert f["funnel.missed"] == 1
    assert f["funnel.fetched_per_attempted"] == pytest.approx(5 / 6)
    assert f["funnel.pruned_at_discovery"] == 30 - 11


def test_stage_ms_sums_over_waves_and_zero_fills():
    s = checks.stage_ms(LINEAGE)
    assert len(s) == 8
    assert s["crawl.t.fetch_extract_write_ms"] == 150
    assert s["crawl.t.frontier_write_bg_ms"] == 7
    assert s["crawl.t.seen_checkpoint_ms"] == 0


def test_lineage_violations():
    assert checks.lineage_violations(LINEAGE) == []
    bad = [dict(LINEAGE[1], dedup_dropped=4), dict(LINEAGE[0], missed=1)]
    assert checks.lineage_violations(bad) == [
        "wave 1: frontier != blocked+dropped+attempted",
        "wave 0: attempted != fetched+missed",
    ]


# ---------------------------------------------------------------------------
# /proc tree accounting


def _stat(pid, comm, ppid, ticks):
    u, s, cu, cs = ticks
    # fields 3.. of proc(5): state ppid pgrp session tty tpgid flags minflt
    # cminflt majflt cmajflt utime stime cutime cstime prio nice threads
    # itreal starttime vsize rss
    return (
        f"{pid} ({comm}) S {ppid} 1 1 0 -1 0 0 0 0 0 "
        f"{u} {s} {cu} {cs} 20 0 1 0 100 123456 789 0"
    )


def test_parse_stat_comm_with_spaces_and_parens():
    p = proctree.parse_stat(_stat(42, "py (x) y", 7, (1, 2, 3, 4)))
    assert (p.pid, p.ppid, p.comm, p.cpu_ticks) == (42, 7, "py (x) y", 10)


def test_tree_cpu_by_role():
    procs = [
        proctree.parse_stat(_stat(*a))
        for a in (
            (10, "python3", 1, (100, 0, 0, 0)),     # driver
            (11, "java", 10, (300, 100, 0, 0)),     # JVM
            (12, "python3", 11, (10, 0, 40, 0)),    # daemon, reaped 40
            (13, "python3", 12, (50, 50, 0, 0)),    # worker
            (20, "java", 1, (9999, 0, 0, 0)),       # not in the tree
        )
    ]
    assert [p.pid for p in proctree.tree(procs, 10)] == [10, 11, 12, 13]
    tck = proctree.CLK_TCK
    assert proctree.cpu_by_role(procs, 10) == pytest.approx(
        {"driver": 100 / tck, "jvm": 400 / tck, "python": 150 / tck}
    )


def test_parse_hwm_kb():
    status = "Name:\tjava\nVmPeak:\t 9000 kB\nVmHWM:\t  306440 kB\nVmRSS:\t 13588 kB\n"
    assert proctree.parse_hwm_kb(status) == 306440
    assert proctree.parse_hwm_kb("Name:\tkthreadd\n") == 0


def test_tree_meter_counts_a_reaped_child_and_resets_peaks():
    ballast = bytearray(200 * 10**6)   # raise this process's peak, then drop it
    del ballast
    with proctree.TreeMeter() as m:
        subprocess.run(
            [sys.executable, "-c",
             "import time\nt = time.process_time()\n"
             "while time.process_time() - t < 0.3: pass"],
            check=True,
        )
    assert m.cpu_s["driver"] >= 0.25   # the child's CPU, via cutime
    assert 0 < m.peak_rss_mb < 200      # the ballast predates the region


# ---------------------------------------------------------------------------
# correctness comparator


def test_compare_texts_planted_mismatches():
    sha = checks.text_sha
    expected = {"a": sha("alpha"), "b": sha("beta"), "c": sha("gamma")}
    got = [
        ("a", sha("alpha")),
        ("b", sha("beta ")),     # one byte differs
        ("a", sha("alpha")),     # second record for a
        ("d", sha("delta")),     # not expected
    ]
    c = checks.compare_texts(expected, got)
    assert (c.missing, c.mismatched, c.extra, c.duplicate) == (1, 1, 1, 1)
    assert c.failed == 4
    assert c.delivered == 4


def test_compare_texts_clean_and_textless():
    sha = checks.text_sha
    expected = {"a": sha("alpha"), "b": sha("beta")}
    assert checks.compare_texts(
        expected, [("b", sha("beta")), ("a", sha("alpha"))]
    ).failed == 0
    c = checks.compare_texts(expected, [("a", sha("alpha")), ("b", None)])
    assert (c.missing, c.delivered) == (1, 1)


def test_digest_problem():
    assert checks.digest_problem({"p": "1:ab"}, {"p": "1:ab"}) is None
    assert "no digest" in checks.digest_problem(None, {"p": "1:ab"})
    assert "!=" in checks.digest_problem({"p": "1:ab"}, {"p": "1:ac"})


# ---------------------------------------------------------------------------
# spans and the benchmark definition


def test_tracer_parents_and_pause(tmp_path):
    t = Tracer(enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
        with t.paused():
            with t.span("hidden"):
                pass
    assert [(s["name"], s["parent"]) for s in t.spans] == [
        ("outer", None), ("inner", 0),
    ]
    assert all(s["end"] >= s["start"] for s in t.spans)
    t.write(str(tmp_path / "s.json"))
    assert json.loads((tmp_path / "s.json").read_text()) == t.spans


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    with open(run.DIGESTS) as f:
        digests = json.load(f)
    for w in bench["workloads"]:
        assert len(digests[w["name"]]) == 16


def test_runner_names_match_the_layers_that_fill_them():
    workloads = pytest.importorskip("perfbench.workloads")
    assert {k for k in run.PER_LAYER if k.startswith("crawl.t.")} == set(
        checks.stage_ms([])
    )
    assert {k for k in run.PER_LAYER if k.startswith("extract.rung.")} == {
        f"extract.rung.{r}_s" for r in workloads.RUNGS
    }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {w["name"] for w in json.load(f)["workloads"]}
    assert set(workloads.WORKLOADS) == names
