"""The crawl wave's fixed cost, counted rather than timed.

On small waves a wave's cost is its task count: each Python task pays
~0.25 CPU-s of worker overhead before its UDF body runs (4-core host).
The guard counts the fixture crawl's jobs and tasks with Spark's status
tracker, so a regression shows up as a failing count, not as noise."""

import pytest

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
# every wave).  The ceilings allow ~20% more jobs and ~30% more tasks than
# measured.
MAX_JOBS_PER_WAVE = 32
MAX_TASKS_PER_WAVE = 60
MAX_BLOOM_JOBS_PER_WAVE = 32
MAX_BLOOM_TASKS_PER_WAVE = 58


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


def _crawl_cost(spark, fixture, tmp_path, group, **kw):
    """(waves, jobs, tasks) of one fixture crawl run under ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "fixture crawl under the cost guard")
    try:
        res = run_crawl(
            spark, *_inputs(spark, fixture), Catalog(str(tmp_path / group)),
            **kw,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
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
