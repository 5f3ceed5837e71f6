"""The crawl wave's fixed cost, counted rather than timed.

On small waves a wave's cost is its task count.  A Python task paid
~0.25 CPU-s before its UDF body ran (4-core host), nearly all of it
Spark's per-task import-cache invalidation re-reading pyspark.zip's
directory; the engine's own daemon (``worker_daemon``) cut that to
~0.03 CPU-s, and a job still costs its scheduling.  The guard counts the fixture crawl's jobs and tasks with Spark's status
tracker, so a regression shows up as a failing count, not as noise."""

import json
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from no_fasel_scrapers_spark.operators import seen_filter
from no_fasel_scrapers_spark.plans.crawl import run_crawl
from no_fasel_scrapers_spark.sources.catalog import Catalog

KEY = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

# Measured on the Fixture() crawl at local[4] with 32 shuffle partitions:
# 5 waves, 26.6 jobs and 46.2 tasks per wave (365 tasks per wave when the
# cached wave frames kept all 32 shuffle partitions; 29.6 jobs and 61.4
# tasks while the lineage row and the pagination bound ran Spark jobs);
# with the filter built from wave 0, 26.0 jobs and 44.4 tasks per wave
# (34.0 jobs while the filter was updated by a cogroup stage and read back
# every wave).  With robots staged once per crawl and catalog reads
# passing their recorded schema (no footer-inference job), 24.6 jobs and
# 44.8 tasks per wave, and 24.0 jobs and 43.0 tasks with the filter.  With
# robots joined once per wave (the gate carries the crawl delay, the
# schedule runs no join), 24.4 jobs and 44.0 tasks per wave, and 23.0 jobs
# and 39.0 tasks with the filter.  With the wave's makespan observed on
# the write action instead of a background top-16 hosts collect (2 jobs
# per wave), 22.4 jobs and 42.0 tasks per wave, and 21.0 jobs and 37.0
# tasks with the filter.  The ceilings allow ~20% more jobs and ~30% more
# tasks than measured.
MAX_JOBS_PER_WAVE = 27
MAX_TASKS_PER_WAVE = 55
MAX_BLOOM_JOBS_PER_WAVE = 26
MAX_BLOOM_TASKS_PER_WAVE = 49


def _group_cost(sc, group):
    """(jobs, tasks run) of a job group; a stage shared by several jobs
    counts once.

    A job also lists the stages it skipped (shuffle output it reuses).
    Past ``spark.ui.retainedStages`` (1000) the status store evicts
    skipped stages first, whose tasks never ran, so a missing stage
    counts none.  A stage that ran is only evicted after 1000 later
    completed stages, far more than one crawl runs."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        assert info is not None, "job evicted from the status store"
        stages.update(info.stageIds)
    infos = [st.getStageInfo(s) for s in stages]
    return len(jobs), sum(i.numCompletedTasks for i in infos if i)


def _inputs(spark, fixture):
    return (
        fixture.pages_df(spark),
        fixture.seeds_df(spark),
        fixture.robots_df(spark),
    )


def _in_group(sc, group, fn):
    """``fn()``, with the jobs it runs in job group ``group``."""
    sc.setJobGroup(group, "run under the cost guard")
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _crawl_cost(spark, fixture, tmp_path, group, **kw):
    """(waves, jobs, tasks) of one fixture crawl run under ``group``."""
    sc = spark.sparkContext
    res = _in_group(sc, group, lambda: run_crawl(
        spark, *_inputs(spark, fixture), Catalog(str(tmp_path / group)),
        **kw,
    ))
    # the crawl's background writer threads inherit the job group, so
    # their jobs (seen/blob checkpoint, frontier) count too
    return (res.waves, *_group_cost(sc, group))


def test_fixture_crawl_jobs_and_tasks_per_wave(spark, fixture, tmp_path):
    spark.conf.set(KEY, "false")
    waves, jobs, tasks = _crawl_cost(spark, fixture, tmp_path, "crawl-cost")
    # the caller's value comes back after a crawl that returned
    assert spark.conf.get(KEY) == "false"
    spark.conf.unset(KEY)

    assert waves == 5
    assert jobs / waves <= MAX_JOBS_PER_WAVE, (jobs, waves)
    assert tasks / waves <= MAX_TASKS_PER_WAVE, (tasks, waves)


def test_bloom_fixture_crawl_jobs_and_tasks_per_wave(
    spark, fixture, tmp_path, monkeypatch
):
    """The same crawl with the filter built from wave 0: each wave also
    probes the driver-held filter and publishes its update, which runs
    no cogroup stage."""

    def _cogroup_update(*a, **k):
        raise AssertionError("the broadcast-sized filter ran a cogroup")

    monkeypatch.setattr(seen_filter, "update_filter_blobs", _cogroup_update)
    waves, jobs, tasks = _crawl_cost(
        spark, fixture, tmp_path, "crawl-cost-bloom", bloom_min_seen=0
    )
    assert waves == 5
    assert jobs / waves <= MAX_BLOOM_JOBS_PER_WAVE, (jobs, waves)
    assert tasks / waves <= MAX_BLOOM_TASKS_PER_WAVE, (tasks, waves)


class _FailingCatalog(Catalog):
    """Fails the crawl at its first publish, recording the conf seen."""

    def __init__(self, root, spark):
        super().__init__(root)
        self.spark = spark
        self.seen_conf = []

    def write(self, *a, **k):
        self.seen_conf.append(self.spark.conf.get(KEY, None))
        raise RuntimeError("publish failed")


@pytest.mark.parametrize("caller_value", [None, "false", "true"])
def test_run_crawl_restores_cached_plan_conf_when_it_raises(
    spark, fixture, tmp_path, caller_value
):
    if caller_value is None:
        spark.conf.unset(KEY)
    else:
        spark.conf.set(KEY, caller_value)
    cat = _FailingCatalog(str(tmp_path / "f"), spark)
    try:
        with pytest.raises(RuntimeError, match="publish failed"):
            run_crawl(spark, *_inputs(spark, fixture), cat)
        # on inside the crawl, and exactly the caller's value after it
        assert cat.seen_conf == ["true"]
        assert spark.conf.get(KEY, None) == caller_value
    finally:
        spark.conf.unset(KEY)


def test_robots_plan_runs_once_per_crawl(spark, fixture, tmp_path):
    """The crawl reads the caller's robots frame once, not once per
    broadcast per wave: a UDF in its plan counts the rows it evaluates."""
    acc = spark.sparkContext.accumulator(0)

    def count_row(host):
        acc.add(1)
        return host

    robots = fixture.robots_df(spark)
    robots = robots.withColumn("host", F.udf(count_row, "string")("host"))
    pages, seeds, _ = _inputs(spark, fixture)
    res = run_crawl(spark, pages, seeds, robots, Catalog(str(tmp_path)))
    assert res.waves > 1
    assert acc.value == len(fixture.robots)


def _job_count(sc, group, action):
    frame = _in_group(sc, group, action)
    return frame, len(sc.statusTracker().getJobIdsForGroup(group))


def test_catalog_reads_skip_schema_inference(spark, tmp_path):
    """A read of snapshots whose manifests recorded the written schema
    runs no Spark job; a manifest without one (older catalogs) is still
    read, with the schema inferred by a job."""
    sc = spark.sparkContext
    cat = Catalog(str(tmp_path))
    # the base's literal column is not nullable, the delta's is: a file
    # read makes both nullable, so both snapshots record one schema
    base = spark.range(3).selectExpr("id", "7 AS wave")
    df = spark.range(3).selectExpr("id", "cast(id as int) AS wave")
    cat.write(base, "t", meta={"kind": "base"})
    cat.write(df, "t")
    cat.write(pa.table({"wave": pa.array([1], pa.int32())}), "a")
    inferred = spark.read.parquet(cat.latest("t").path).schema
    for i, read in enumerate([
        lambda: cat.read(spark, "t"),
        lambda: cat.read_union(spark, "t"),
        lambda: cat.read_log(spark, "t"),
        lambda: cat.read(spark, "a"),
    ]):
        frame, jobs = _job_count(sc, f"catalog-read-{i}", read)
        assert jobs == 0, i
    assert cat.read(spark, "t").schema == inferred
    assert sorted(cat.read_log(spark, "t").collect()) == sorted(
        base.collect() + df.collect()
    )
    assert cat.read(spark, "a").schema == spark.read.parquet(
        cat.latest("a").path
    ).schema

    manifest = os.path.join(str(tmp_path), "t", "_snapshots", "v1.json")
    with open(manifest) as fp:
        m = json.load(fp)
    del m["schema"]
    with open(manifest, "w") as fp:
        json.dump(m, fp)
    frame, jobs = _job_count(
        sc, "catalog-read-legacy", lambda: cat.read_union(spark, "t")
    )
    assert jobs > 0
    assert frame.schema == inferred
    assert frame.count() == 6
