"""Full crawl engine over the generated at-scale site (sources/pagegen).

The golden Fixture pins extraction byte-parity on a ~330-page mini-web;
this suite pins the WAVE STRUCTURE at generator scale: seed root listing
→ pagination-extent discovery → listing wave (n/per pages) → detail wave
(n pages), with every detail page discovered exactly once.  bench.py
--crawl-scale runs the same path at 10^6 pages for the throughput record.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from no_fasel_scrapers_spark.plans.crawl import run_crawl
from no_fasel_scrapers_spark.sources.catalog import Catalog
from no_fasel_scrapers_spark.sources.pagegen import (
    gen_site_pages,
    site_seed_rows,
)

SEEDS_DDL = (
    "url string, site string, category string, priority int, depth int, "
    "role string, url_template string"
)
ROBOTS_DDL = "host string, disallow_prefixes array<string>, crawl_delay_ms int"

N_ITEMS = 120
PER = 16


def _crawl(spark, tmp_path, n_items=N_ITEMS, per=PER):
    pages = gen_site_pages(spark, n_items, per=per, partitions=8)
    seeds = spark.createDataFrame(
        [tuple(s.values()) for s in site_seed_rows()], SEEDS_DDL
    )
    robots = spark.createDataFrame([("fasel.test", [], 0)], ROBOTS_DDL)
    cat = Catalog(str(tmp_path / "cat"))
    return run_crawl(spark, pages, seeds, robots, cat, n_salts=8)


def test_site_crawl_discovers_every_detail_once(spark, tmp_path):
    res = _crawl(spark, tmp_path)
    details = res.extracted.filter(F.col("role") == "detail")
    ids = [r["item_id"] for r in details.select(
        F.col("fields.item_id").alias("item_id")).collect()]
    assert sorted(ids) == [str(7000 + i) for i in range(N_ITEMS)]
    assert len(set(ids)) == N_ITEMS  # no dup fetches past the seen filter


def test_site_crawl_wave_structure(spark, tmp_path):
    res = _crawl(spark, tmp_path)
    by_role = {
        (r["role"]): r["n"]
        for r in res.extracted.groupBy("role").agg(
            F.count("*").alias("n")).collect()
    }
    n_listings = (N_ITEMS + PER - 1) // PER
    # root + pages 1..last (root and page/1 have identical content but
    # distinct canonical urls — both fetched, like the fixture site)
    assert by_role["listing"] == n_listings + 1
    assert by_role["detail"] == N_ITEMS
    # seed wave + listing wave + detail wave (+ nothing after: frontier
    # exhausts because detail pages emit no new links)
    assert res.waves == 3


def test_site_crawl_extracted_text_matches_generator(spark, tmp_path):
    from no_fasel_scrapers_spark.sources.pagegen import detail_page

    res = _crawl(spark, tmp_path)
    got = {
        r["url"]: r["text"]
        for r in res.extracted.filter(F.col("role") == "detail")
        .select("url", "text").collect()
    }
    for i in (0, 7, N_ITEMS - 1):
        url, _html, text = detail_page(i)
        assert got[url] == text  # byte-identical extracted text per url


def _query_exchange_ids(fmt: str) -> list[str]:
    """Ids of the shuffle Exchanges a query runs itself: the tree part of
    a formatted explain, minus the subtrees under an InMemoryRelation (a
    cached frame's own plan, materialized once by its first action)."""
    ids, cached_below = [], None
    for line in fmt.split("\n\n")[0].splitlines()[1:]:
        prefix, body = re.match(r"^([\s:+\-|]*)(.*)$", line).groups()
        if cached_below is not None and len(prefix) > cached_below:
            continue
        cached_below = None
        if body.startswith("InMemoryRelation"):
            cached_below = len(prefix)
        m = re.match(r"Exchange \((\d+)\)", body)
        if m:
            ids.append(m.group(1))
    return ids


def _assert_fetch_join_streams_html(spark, cache: bool) -> None:
    """The 100 TB ingest pattern: a url_hash-bucketed corpus makes the
    fetch join co-located — the HTML side reads buckets with NO Exchange;
    only the slim wave side shuffles (bench.py --crawl-scale-bucketed).

    ``cache`` mirrors run_crawl itself: pages_k cached, and the slim side
    a persisted window output, like ``scheduled``."""
    from no_fasel_scrapers_spark.plans.crawl import _prep_pages

    pages_k = _prep_pages(spark.table("t_fetch_bucketed"))
    sched = spark.range(100).select(
        F.col("id").alias("url_hash"), F.lit("u").alias("url"),
        (F.col("id") % 7).alias("host"),
    )
    if cache:
        pages_k.cache()
        sched = sched.withColumn(
            "fetch_seq",
            F.row_number().over(Window.partitionBy("host").orderBy("url_hash")),
        ).persist()
    pages_wave = pages_k.join(
        F.broadcast(sched.select("url_hash")), "url_hash", "left_semi"
    )
    # hint on the SLIM side (BuildLeft) — mirrors plans/crawl.py: the
    # hash relation holds url rows, the bucketed HTML side streams
    j = sched.hint("SHUFFLE_HASH").join(pages_wave, "url_hash", "left")

    # formatted explain: each node block lists its full Input/Output
    # schema.  ShuffleExchangeExec's one-line toString prints only the
    # partitioning expression — never payload columns — so a per-line
    # 'html not in exchange line' check is vacuous (round-5 review
    # find); the formatted block is the real property.
    qe = j._jdf.queryExecution()
    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    fmt = qe.explainString(mode)
    assert "Bucketed: true" in fmt
    blocks = fmt.split("\n\n")
    ids = _query_exchange_ids(fmt)
    assert len(ids) == 1, ids
    exchange = next(b for b in blocks if b.startswith(f"({ids[0]}) Exchange"))
    # the one hash exchange is the SLIM side: its input schema is the
    # scheduled url_hash row; html never rides it (ADVICE r4, pinned
    # on the node's actual Input list)
    assert "html" not in exchange
    assert "url_hash" in exchange
    scan = next(b for b in blocks if re.match(r"\(\d+\) Scan parquet", b))
    assert "html" in scan  # html flows ONLY through the bucketed scan
    # and the SHJ builds the preserved (slim) side, streaming the HTML
    assert "ShuffledHashJoin LeftOuter BuildLeft" in fmt
    if cache:
        sched.unpersist()
        pages_k.unpersist()


@pytest.fixture
def bucketed_corpus(spark, tmp_path):
    # external table path → the (static) warehouse dir is never used
    (
        gen_site_pages(spark, 300, partitions=4)
        .withColumn("url_hash", F.xxhash64("url"))
        .write.mode("overwrite")
        .bucketBy(16, "url_hash")
        .option("path", str(tmp_path / "tbl"))
        .saveAsTable("t_fetch_bucketed")
    )
    yield
    spark.sql("DROP TABLE IF EXISTS t_fetch_bucketed")


def test_bucketed_corpus_fetch_join_has_no_html_exchange(
    spark, bucketed_corpus
):
    _assert_fetch_join_streams_html(spark, cache=False)


def test_bucketed_corpus_fetch_join_has_no_html_exchange_when_cached(
    spark, bucketed_corpus
):
    from no_fasel_scrapers_spark.plans.crawl import _coalescing_cached_plans

    # both frames persisted, and the join planned, under run_crawl's own
    # conf wrapper: AQE may coalesce cached plans, as inside the crawl
    _coalescing_cached_plans(_assert_fetch_join_streams_html)(spark, cache=True)


def test_max_pagination_clamp_is_configurable(spark, tmp_path):
    """The anti-absurd-extent clamp must be liftable from run_crawl: at a
    3M-item site the root declares 187,500 listing pages and the 100k
    default silently truncated the crawl to 53% of the site (round-4
    measurement).  Pin both directions: a tight clamp bounds the listing
    wave, and raising it restores the full site."""
    n_items, per = 60, 2  # 30 listing pages
    pages = gen_site_pages(spark, n_items, per=per, partitions=4)
    seeds = spark.createDataFrame(
        [tuple(s.values()) for s in site_seed_rows()], SEEDS_DDL
    )
    robots = spark.createDataFrame([("fasel.test", [], 0)], ROBOTS_DDL)

    clamped = run_crawl(
        spark, pages, seeds, robots,
        Catalog(str(tmp_path / "clamped")),
        n_salts=8, max_pagination=10,
    )
    by_role = {
        r["role"]: r["n"]
        for r in clamped.extracted.groupBy("role").agg(
            F.count("*").alias("n")).collect()
    }
    assert by_role["listing"] == 10 + 1          # root + pages 1..10
    assert by_role["detail"] == 10 * per         # only their details

    full = run_crawl(
        spark, pages, seeds, robots,
        Catalog(str(tmp_path / "full")),
        n_salts=8, max_pagination=30,
    )
    assert full.extracted.filter(F.col("role") == "detail").count() == n_items
