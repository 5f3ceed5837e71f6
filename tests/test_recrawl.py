"""Recrawl / seen-set invalidation cycle (VERDICT r4 #5, registry row
``recrawl_delta``) — plus the two run_crawl bugs found while building it:

1. A caller-passed seen set over a fresh catalog was silently dropped
   after wave 0 (the wave loop re-reads seen from the catalog log, and
   only the ``seen_prior=`` path published a base) — waves 1+ re-fetched
   already-seen pages.  Now imported history comes in through
   ``seen_prior=`` only, which publishes it as the log base
   (plans/crawl.py); the crawls below import crawl 1's ``seen`` frame.
2. A wave whose ``scheduled`` set materializes EMPTY (every candidate
   robots-blocked or already seen — exactly what a recrawled page
   re-discovering only a disallowed link produces) tripped a JVM-side
   assertion in ``Observation.get``: AQE's empty-relation propagation
   rewrites the write plan around the CollectMetrics nodes.  ``_obs_n``
   now falls back to a bounded count for such degenerate waves.
"""


import pytest
from pyspark.sql import functions as F

from no_fasel_scrapers_spark.functions.xxh64 import xxh64_signed
from no_fasel_scrapers_spark.plans.crawl import run_crawl
from no_fasel_scrapers_spark.plans.oracle_crawler import crawl_oracle
from no_fasel_scrapers_spark.sources.catalog import Catalog
from no_fasel_scrapers_spark.sources.fixture import Fixture, FixtureConfig


@pytest.fixture(scope="module")
def small_fx():
    return Fixture(FixtureConfig().scale(0.4))


def _mutated_pages_df(fx, spark):
    # Alpha→Gamma changes extracted text on every page, no URL changes.
    # latin-1 is byte-transparent, so the ASCII replace works on the
    # fixture's windows-1256 pages too (strict UTF-8 would raise)
    return fx.pages_df(spark).withColumn(
        "html",
        F.encode(
            F.replace(
                F.decode(F.col("html"), "ISO-8859-1"),
                F.lit("Alpha"), F.lit("Gamma"),
            ),
            "ISO-8859-1",
        ),
    )


def test_recrawl_cycle_matches_python_oracle(spark, small_fx, tmp_path):
    """Invalidate a deterministic quarter of crawl-1's URLs, re-crawl them
    over mutated content, and pin: (a) crawl 2 fetches EXACTLY the
    invalidated set (links it re-discovers stay deduped against the
    imported seen set — bug 1's regression surface), (b) re-fetched text
    is the mutated content, (c) the engine never crashes on the
    terminal all-blocked/all-seen wave (bug 2)."""
    fx = small_fx
    cat1 = Catalog(str(tmp_path / "rc1"))
    res1 = run_crawl(
        spark, fx.pages_df(spark), fx.seeds_df(spark), fx.robots_df(spark),
        cat1,
    )
    old = res1.extracted.select("url", "site", "category", "role", "text")
    old = old.cache()
    recrawl = old.filter(F.pmod(F.xxhash64("url"), F.lit(4)) == 0)
    seeds2 = recrawl.select(
        "url", "site", "category",
        F.lit(0).alias("priority"), F.lit(0).alias("depth"), "role",
        F.lit(None).cast("string").alias("url_template"),
    )
    cat2 = Catalog(str(tmp_path / "rc2"))
    res2 = run_crawl(
        spark, _mutated_pages_df(fx, spark), seeds2, fx.robots_df(spark),
        cat2, seen_prior=res1.seen, recrawl=recrawl.select("url"),
    )
    got = {
        r["url"]: r["text"]
        for r in res2.extracted.select("url", "text").collect()
    }

    # independent single-threaded oracle through the same cycle
    pages1 = {p["url"]: p["html"] for p in fx.pages}
    r1 = crawl_oracle(pages1, fx.seeds, fx.robots)
    oldp = {e["url"]: e for e in r1.extracted}
    rc = {u for u in oldp if xxh64_signed(u) % 4 == 0}
    seeds2p = [
        {
            "url": u, "site": oldp[u]["site"],
            "category": oldp[u]["category"], "role": oldp[u]["role"],
            "priority": 0, "depth": 0, "url_template": None,
        }
        for u in sorted(rc)
    ]
    pages2 = {u: h.replace(b"Alpha", b"Gamma") for u, h in pages1.items()}
    r2 = crawl_oracle(pages2, seeds2p, fx.robots, seen_prior=r1.seen - rc)
    want = {e["url"]: e.get("text") for e in r2.extracted}

    assert set(got) == set(want)        # exactly the invalidated set (a, 1)
    assert got == want                  # mutated content landed (b)
    # every re-fetched text differs from crawl 1 wherever Alpha appeared
    changed = [u for u in want if want[u] != oldp[u].get("text")]
    assert changed, "mutation must be visible in at least one re-fetch"


def test_empty_scheduled_wave_does_not_crash(spark, small_fx, tmp_path):
    """A crawl whose wave-1 frontier is entirely robots-blocked or seen
    must terminate cleanly with a 0-attempted lineage row, not trip the
    Observation assert (bug 2 in isolation: recrawl ONE page that links
    only to already-seen/disallowed URLs)."""
    fx = small_fx
    cat1 = Catalog(str(tmp_path / "rc3"))
    res1 = run_crawl(
        spark, fx.pages_df(spark), fx.seeds_df(spark), fx.robots_df(spark),
        cat1,
    )
    # pick one detail page that has outlinks (role=detail always links)
    one = (
        res1.extracted.filter(F.col("role") == "detail")
        .select("url", "site", "category", "role")
        .orderBy("url")
        .limit(1)
    )
    seeds2 = one.select(
        "url", "site", "category",
        F.lit(0).alias("priority"), F.lit(0).alias("depth"), "role",
        F.lit(None).cast("string").alias("url_template"),
    )
    cat2 = Catalog(str(tmp_path / "rc4"))
    res2 = run_crawl(
        spark, fx.pages_df(spark), seeds2, fx.robots_df(spark), cat2,
        seen_prior=res1.seen, recrawl=one.select("url"),
    )
    assert res2.extracted.count() == 1
    assert res2.lineage[0]["attempted"] == 1
    # terminal wave (if any) recorded 0 attempts and did not crash; its
    # schedule was empty, so it touched no host and took no time
    for row in res2.lineage[1:]:
        assert row["attempted"] == 0
        assert row["n_hosts"] == 0
        assert row["makespan_ms"] == 0


def test_crawl_recrawl_param_refetches(spark, fixture, tmp_path):
    from no_fasel_scrapers_spark.plans.crawl import run_crawl
    from no_fasel_scrapers_spark.sources.catalog import Catalog

    pages = fixture.pages_df(spark)
    seeds = fixture.seeds_df(spark)
    robots = fixture.robots_df(spark)
    prior = fixture.seen_prior_df(spark)
    if prior.isEmpty():
        pytest.skip("fixture has no prior-seen rows")

    # baseline incremental run: prior-seen detail pages are NOT refetched
    base = run_crawl(
        spark, pages, seeds, robots, Catalog(str(tmp_path / "c1")),
        seen_prior=prior, max_waves=3,
    )
    base_urls = {r.url for r in base.extracted.select("url").collect()}
    prior_urls = {r.url for r in prior.select("url").collect()}
    assert not (base_urls & prior_urls)

    # same run but with one prior url marked for recrawl → it IS refetched
    target = sorted(prior_urls)[0]
    rec = run_crawl(
        spark, pages, seeds, robots, Catalog(str(tmp_path / "c2")),
        seen_prior=prior, max_waves=3,
        recrawl=spark.createDataFrame([(target,)], "url string"),
    )
    rec_urls = {r.url for r in rec.extracted.select("url").collect()}
    assert target in rec_urls
    extra = rec_urls - base_urls
    assert target in extra
    # everything else newly fetched must be a child discovered FROM the
    # recrawled page (refetching a hub legitimately re-opens its children);
    # no unrelated prior-seen url sneaks back in
    assert not ((extra - {target}) & prior_urls)
    assert base_urls <= rec_urls
