"""Checkpoint/resume: kill after wave k, restart, identical final state
(north_rule resumability)."""

import logging
import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from no_fasel_scrapers_spark.operators.seen_filter import (
    probe_bloom,
    read_shard_map,
)
from no_fasel_scrapers_spark.plans import crawl as crawl_mod
from no_fasel_scrapers_spark.plans.crawl import resume_crawl, run_crawl
from no_fasel_scrapers_spark.sources.catalog import Catalog
from no_fasel_scrapers_spark.sources.fixture import Fixture, FixtureConfig


def test_resume_equals_uninterrupted(spark, fixture, tmp_path):
    pages = fixture.pages_df(spark)
    seeds = fixture.seeds_df(spark)
    robots = fixture.robots_df(spark)

    full_cat = Catalog(str(tmp_path / "full"))
    full = run_crawl(spark, pages, seeds, robots, full_cat, audit=True)

    # interrupted run: stop after 2 waves (simulates a kill — the catalog
    # holds only the snapshots published before the "crash")
    part_cat = Catalog(str(tmp_path / "part"))
    run_crawl(spark, pages, seeds, robots, part_cat, audit=True, max_waves=2)
    resumed = resume_crawl(spark, pages, seeds, robots, part_cat, audit=True)

    a = sorted((r["wave"], r["rank"], r["url"]) for r in full.seen.collect())
    b = sorted((r["wave"], r["rank"], r["url"]) for r in resumed.seen.collect())
    assert a == b

    ea = sorted(
        (r["url"], r["wave"], r["text"])
        for r in full.extracted.select("url", "wave", "text").collect()
    )
    eb = sorted(
        (r["url"], r["wave"], r["text"])
        for r in resumed.extracted.select("url", "wave", "text").collect()
    )
    assert ea == eb
    # the resumed crawl's lineage is the catalog's, of the same shape as
    # the uninterrupted one's; only the stage timings differ
    assert _untimed(resumed.lineage) == _untimed(full.lineage)


def _untimed(lineage):
    return [{k: v for k, v in r.items() if k != "t_ms"} for r in lineage]


def test_resume_with_changed_expected_urls_rebuilds_blobs(
    spark, fixture, tmp_path, caplog
):
    """A resume launched with a different --expected-urls must not die
    mid-wave inside update_filter_blobs with an (m, k) mismatch (ADVICE r1):
    the driver detects the pinned-size conflict up front, discards the
    restored blobs, and rebuilds from the seen set — same final state."""
    pages = fixture.pages_df(spark)
    seeds = fixture.seeds_df(spark)
    robots = fixture.robots_df(spark)

    cat = Catalog(str(tmp_path / "mk"))
    # bloom_min_seen=0 forces blob build from wave 0 at fixture scale
    run_crawl(
        spark, pages, seeds, robots, cat, max_waves=2,
        bloom_min_seen=0, expected_urls=64_000,
    )
    assert cat.exists("blobs")
    with caplog.at_level(logging.WARNING, logger=crawl_mod.__name__):
        resumed = resume_crawl(
            spark, pages, seeds, robots, cat,
            bloom_min_seen=0, expected_urls=640_000,  # different pinned size
        )
    assert "rebuilding from the seen set" in caplog.text

    ref_cat = Catalog(str(tmp_path / "ref"))
    ref = run_crawl(
        spark, pages, seeds, robots, ref_cat,
        bloom_min_seen=0, expected_urls=640_000,
    )
    a = sorted(r["url"] for r in resumed.seen.collect())
    b = sorted(r["url"] for r in ref.seen.collect())
    assert a == b


def test_torn_manifest_ignored(spark, fixture, tmp_path):
    """A crash mid-write leaves a .tmp manifest — readers must not see it."""
    cat = Catalog(str(tmp_path / "torn"))
    df = spark.range(3).select(F.col("id"))
    cat.write(df, "t")
    import os

    tmp = os.path.join(cat.root, "t", "_snapshots", ".v1.json.tmp")
    with open(tmp, "w") as fp:
        fp.write("{ partial")
    assert cat.latest("t").version == 0
    assert cat.read(spark, "t").count() == 3


def test_catalog_writes_arrow_table(spark, tmp_path):
    """A pyarrow table publishes like a DataFrame, with no Spark job."""
    cat = Catalog(str(tmp_path / "a"))
    cat.write(spark.range(2).select(F.col("id").alias("n")), "t")
    # an unpublished v1 left by a killed writer is replaced, not merged
    os.makedirs(os.path.join(cat.root, "t", "v1"))
    with open(os.path.join(cat.root, "t", "v1", "stale.parquet"), "w") as fp:
        fp.write("torn")
    tbl = pa.table({"n": pa.array([5, 6, 7], pa.int64())})
    sc = spark.sparkContext
    sc.setJobGroup("arrow-write", "catalog write of an arrow table")
    try:
        snap = cat.write(tbl, "t", meta={"wave": 1})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("arrow-write") == []
    assert (snap.version, snap.rows, snap.meta) == (1, 3, {"wave": 1})
    assert os.listdir(snap.path) == ["part-00000.parquet"]
    assert [s.rows for s in cat.snapshots("t")] == [2, 3]
    assert cat.log_rows("t") == 5
    assert sorted(r["n"] for r in cat.read(spark, "t").collect()) == [5, 6, 7]
    with pytest.raises(ValueError, match="unpartitioned"):
        cat.write(tbl, "t", partition_by=["n"])


def test_catalog_merge_upsert_both_precedences(spark, tmp_path):
    cat = Catalog(str(tmp_path / "m"))
    old = spark.createDataFrame(
        [(1, "old-a", 3), (2, "old-b", 5)], "id long, val string, n long"
    )
    new = spark.createDataFrame(
        [(2, "new-b", 9), (3, "new-c", 1)], "id long, val string, n long"
    )
    cat.merge(old, "t", key="id")                 # first merge = plain write
    snap = cat.merge(new, "t", key="id")          # upsert, new wins
    got = {r.id: r.val for r in cat.read(spark, "t").collect()}
    assert got == {1: "old-a", 2: "new-b", 3: "new-c"}
    assert snap.version == 1
    # previous snapshot still readable (snapshot isolation / version pin)
    v0 = {r.id: r.val for r in cat.read(spark, "t", version=0).collect()}
    assert v0 == {1: "old-a", 2: "old-b"}

    # old-wins precedence (reference `new | old`, FaselSeriesScraper.py:217)
    cat2 = Catalog(str(tmp_path / "m2"))
    cat2.merge(old, "t", key="id")
    cat2.merge(new, "t", key="id", new_wins=False)
    got2 = {r.id: r.val for r in cat2.read(spark, "t").collect()}
    assert got2 == {1: "old-a", 2: "old-b", 3: "new-c"}


def _state(res):
    seen = sorted((r["wave"], r["url"]) for r in res.seen.collect())
    ex = sorted(
        (r["url"], r["wave"], r["text"])
        for r in res.extracted.select("url", "wave", "text").collect()
    )
    return seen, ex


def test_resume_after_midwave_crash_torn_frontier(spark, fixture, tmp_path):
    """Kill BETWEEN a wave's delta publishes and its frontier publish.

    The wave's extracted/seen/lineage snapshots are orphans of a torn
    wave: resume must prune them and replay the wave, or the append-log
    readers double-count every row the crashed attempt already published
    (latent until round 5 — the older resume test only kills at wave
    boundaries)."""
    pages = fixture.pages_df(spark)
    seeds = fixture.seeds_df(spark)
    robots = fixture.robots_df(spark)

    full_cat = Catalog(str(tmp_path / "full"))
    full = run_crawl(spark, pages, seeds, robots, full_cat)

    cat = Catalog(str(tmp_path / "torn"))
    run_crawl(spark, pages, seeds, robots, cat, max_waves=3)
    f = cat.latest("frontier")
    assert int(f.meta["wave"]) == 3
    cat.unpublish("frontier", f.version)  # wave 2's frontier never landed
    # the torn wave's lineage row is published last, at the end of the
    # wave, while its frontier writer may still run — simulate the crash
    # landing before it, too
    lin = [
        s for s in cat.snapshots("lineage") if int(s.meta.get("wave", -1)) == 2
    ]
    cat.unpublish("lineage", lin[0].version)

    resumed = resume_crawl(spark, pages, seeds, robots, cat)
    assert _state(resumed) == _state(full)
    # exactly one published wave-2 extracted delta after the replay
    w2 = [
        s for s in cat.snapshots("extracted")
        if int(s.meta.get("wave", -1)) == 2
    ]
    assert len(w2) == 1


def test_resumed_recrawl_keeps_refetched_urls(spark, tmp_path):
    """An imported-history recrawl stopped after two waves and resumed
    ends in the uninterrupted run's state.  The invalidation is applied
    once, by the run that starts the catalog: applied again on resume, it
    deleted from the seen log the recrawled urls wave 1 had already
    re-fetched (118 seen rows left of 122)."""
    fx = Fixture(FixtureConfig().scale(0.4))
    inputs = (fx.pages_df(spark), fx.seeds_df(spark), fx.robots_df(spark))
    prior = fx.seen_prior_df(spark)
    kw = dict(seen_prior=prior, recrawl=prior.select("url"))
    full = run_crawl(spark, *inputs, Catalog(str(tmp_path / "full")), **kw)
    cat = Catalog(str(tmp_path / "part"))
    run_crawl(spark, *inputs, cat, max_waves=2, **kw)
    resumed = resume_crawl(spark, *inputs, cat, **kw)
    assert _state(resumed) == _state(full)


def test_resume_after_midwave_crash_torn_seen(spark, fixture, tmp_path):
    """Kill with the NEXT frontier published but the wave's seen delta
    missing (the seen checkpoint rides an overlapped thread, so this
    ordering is reachable): resume must walk BACK past the published
    frontier to the last complete wave, prune, and replay."""
    pages = fixture.pages_df(spark)
    seeds = fixture.seeds_df(spark)
    robots = fixture.robots_df(spark)

    full_cat = Catalog(str(tmp_path / "full"))
    full = run_crawl(spark, pages, seeds, robots, full_cat)

    cat = Catalog(str(tmp_path / "torn"))
    run_crawl(spark, pages, seeds, robots, cat, max_waves=3)
    sd = [
        s for s in cat.snapshots("seen") if int(s.meta.get("wave", -1)) == 2
    ]
    cat.unpublish("seen", sd[0].version)

    resumed = resume_crawl(spark, pages, seeds, robots, cat)
    assert _state(resumed) == _state(full)
    assert (
        len([
            s for s in cat.snapshots("seen")
            if int(s.meta.get("wave", -1)) == 2
        ])
        == 1
    )
    # the orphan wave-3 frontier was pruned and rewritten by the replay
    waves = sorted(
        int(s.meta.get("wave", 0)) for s in cat.snapshots("frontier")
    )
    assert waves == sorted(set(waves))


def test_resume_fresh_run_torn_wave0(spark, fixture, tmp_path):
    """Crash during wave 0 with some deltas published but no complete
    wave: resume must prune everything and restart as a fresh run."""
    pages = fixture.pages_df(spark)
    seeds = fixture.seeds_df(spark)
    robots = fixture.robots_df(spark)

    full_cat = Catalog(str(tmp_path / "full"))
    full = run_crawl(spark, pages, seeds, robots, full_cat)

    cat = Catalog(str(tmp_path / "torn0"))
    run_crawl(spark, pages, seeds, robots, cat, max_waves=1)
    f = cat.latest("frontier")
    cat.unpublish("frontier", f.version)  # wave 0's frontier never landed

    resumed = resume_crawl(spark, pages, seeds, robots, cat)
    assert _state(resumed) == _state(full)


def test_resume_rebuilds_filter_lagging_the_seen_log(
    spark, fixture, tmp_path, caplog, filter_form
):
    """Kill between a wave's seen publish and its blob publish: the last
    blob snapshot lacks that wave's keys.  Resume must rebuild the filter
    from the seen set, in either filter form; restoring it would leave
    false negatives that only the frontier's exact prune hides."""
    pages = fixture.pages_df(spark)
    seeds = fixture.seeds_df(spark)
    robots = fixture.robots_df(spark)

    cat = Catalog(str(tmp_path / "lag"))
    run_crawl(spark, pages, seeds, robots, cat, max_waves=3, bloom_min_seen=0)
    b = cat.latest("blobs")
    assert b.meta == {"wave": 2, "seen_wave": 2}
    cat.unpublish("blobs", b.version)
    with caplog.at_level(logging.WARNING, logger=crawl_mod.__name__):
        resumed = resume_crawl(
            spark, pages, seeds, robots, cat, bloom_min_seen=0
        )
    assert "cover the seen log through wave 1" in caplog.text

    held = read_shard_map(cat.latest("blobs").path)
    h = np.array(
        [r["url_hash"] for r in resumed.seen.collect()], dtype=np.int64
    )
    shards = h % 32
    for s in np.unique(shards).tolist():
        m, k, bits, _ = held[s]
        assert probe_bloom(bits, h[shards == s].astype(np.uint64), m, k).all()
