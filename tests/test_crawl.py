"""End-to-end crawl: determinism vs the single-threaded oracle, the text
invariant, robots gating, budget carry-over, incremental seen_prior."""

import os

import pytest
from pyspark.sql import functions as F

from no_fasel_scrapers_spark.functions.extract import site_of_host
from no_fasel_scrapers_spark.plans.crawl import (
    _site_col,
    resume_crawl,
    run_crawl,
)
from no_fasel_scrapers_spark.plans.oracle_crawler import crawl_oracle
from no_fasel_scrapers_spark.sources.catalog import Catalog


def _oracle(fixture, **kw):
    pages = {p["url"]: p["html"] for p in fixture.pages}
    return crawl_oracle(pages, fixture.seeds, fixture.robots, **kw)


def _crawl(spark, fixture, tmp_path, name, **kw):
    cat = Catalog(str(tmp_path / name))
    return run_crawl(
        spark,
        fixture.pages_df(spark),
        fixture.seeds_df(spark),
        fixture.robots_df(spark),
        cat,
        audit=True,
        **kw,
    )


@pytest.fixture(scope="module")
def crawl_result(spark, fixture, tmp_path_factory):
    return _crawl(spark, fixture, tmp_path_factory.mktemp("crawl"), "c0")


@pytest.fixture(scope="module")
def oracle_result(fixture):
    return _oracle(fixture)


class TestCrawlDeterminism:
    def test_order_matches_oracle(self, crawl_result, oracle_result):
        got = sorted(
            (r["wave"], r["rank"], r["url"])
            for r in crawl_result.seen.filter(F.col("wave") >= 0).collect()
        )
        assert got == sorted(oracle_result.orders)

    def test_seen_set_matches_oracle(self, crawl_result, oracle_result):
        got = {r["url"] for r in crawl_result.seen.collect()}
        assert got == oracle_result.seen

    def test_other_parallelism_identical(
        self, spark, fixture, tmp_path_factory, crawl_result
    ):
        """Same job at a different shuffle parallelism → identical order."""
        old = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            res2 = _crawl(
                spark, fixture, tmp_path_factory.mktemp("crawl2"), "c1"
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        a = sorted(
            (r["wave"], r["rank"], r["url"]) for r in crawl_result.seen.collect()
        )
        b = sorted((r["wave"], r["rank"], r["url"]) for r in res2.seen.collect())
        assert a == b


class TestCrawlInvariants:
    def test_text_byte_identical(self, crawl_result, fixture):
        """north_rule per-row invariant: extracted text == pages.text, byte
        for byte, for every fetched url."""
        expected = {p["url"]: p["text"] for p in fixture.pages}
        rows = crawl_result.extracted.filter(F.col("text").isNotNull()).collect()
        assert rows, "nothing extracted"
        for r in rows:
            assert r["text"] == expected[r["url"]], r["url"]

    def test_robots_gate(self, crawl_result):
        blocked = crawl_result.seen.filter(F.col("url").contains("/private/"))
        assert blocked.count() == 0

    def test_every_page_reachable_was_fetched(self, crawl_result, fixture):
        # all non-robots-blocked pages of the fixture should be discovered
        fetched = {r["url"] for r in crawl_result.seen.collect()}
        expected = {
            p["url"] for p in fixture.pages if "/private/" not in p["url"]
        }
        missing = expected - fetched
        assert not missing, sorted(missing)[:5]

    def test_lineage_counts(self, crawl_result):
        assert crawl_result.lineage, "no lineage rows"
        total_attempted = sum(l["attempted"] for l in crawl_result.lineage)
        assert total_attempted == crawl_result.seen.filter(
            F.col("wave") >= 0
        ).count()
        for l in crawl_result.lineage:
            assert l["attempted"] == l["fetched"] + l["missed"]
            # one record per wave, as the catalog holds it
            assert set(l) == {
                "wave", "frontier_size", "robots_blocked", "dedup_dropped",
                "attempted", "fetched", "missed", "n_hosts", "makespan_ms",
                "t_ms",
            }
            assert (l["n_hosts"] > 0) == (l["attempted"] > 0)
            assert "fetch_extract_write" in l["t_ms"]


class TestBudgetAndIncremental:
    def test_budget_carryover_same_result(self, spark, fixture, tmp_path_factory, oracle_result):
        res = _crawl(
            spark, fixture, tmp_path_factory.mktemp("crawlb"), "cb",
            wave_budget=40, max_waves=60,
        )
        oracle_b = _oracle(fixture, wave_budget=40, max_waves=60)
        got = sorted(
            (r["wave"], r["rank"], r["url"])
            for r in res.seen.filter(F.col("wave") >= 0).collect()
        )
        assert got == sorted(oracle_b.orders)
        # budget changes the schedule, not the final coverage
        assert {r["url"] for r in res.seen.collect()} == oracle_result.seen

    @pytest.mark.parametrize("crawl", [run_crawl, resume_crawl])
    def test_budget_below_one_rejected(self, spark, fixture, tmp_path, crawl):
        """A budget below 1 would take empty waves forever (the whole
        frontier left over each time); it is refused before the catalog
        sees any write."""
        cat = Catalog(str(tmp_path / "c"))
        with pytest.raises(ValueError, match="wave_budget"):
            crawl(
                spark,
                fixture.pages_df(spark),
                fixture.seeds_df(spark),
                fixture.robots_df(spark),
                cat,
                wave_budget=0,
            )
        assert os.listdir(tmp_path / "c") == []

    def test_seen_prior_skips(self, spark, fixture, tmp_path_factory):
        cat = Catalog(str(tmp_path_factory.mktemp("crawlp") / "cp"))
        res = run_crawl(
            spark,
            fixture.pages_df(spark),
            fixture.seeds_df(spark),
            fixture.robots_df(spark),
            cat,
            seen_prior=fixture.seen_prior_df(spark),
            audit=True,
        )
        prior = {s["url"] for s in fixture.seen_prior}
        refetched = {
            r["url"]
            for r in res.seen.filter(F.col("wave") >= 0).collect()
        } & prior
        assert not refetched
        oracle_p = _oracle(fixture, seen_prior=prior)
        got = sorted(
            (r["wave"], r["rank"], r["url"])
            for r in res.seen.filter(F.col("wave") >= 0).collect()
        )
        assert got == sorted(oracle_p.orders)


class TestBloomPathInLoop:
    def test_bloom_path_same_result(
        self, spark, fixture, tmp_path_factory, crawl_result, filter_form
    ):
        """Active incremental blobs (bloom_min_seen=0) must not change the
        crawl outcome, in either filter form: blob maintenance + probe +
        backstop == exact path."""
        res = _crawl(
            spark, fixture, tmp_path_factory.mktemp("crawlbloom"), "cb",
            bloom_min_seen=0, expected_urls=10_000,
        )
        assert sorted(
            (r["url"], r["wave"]) for r in res.seen.collect()
        ) == sorted((r["url"], r["wave"]) for r in crawl_result.seen.collect())
        a = sorted(
            (r["url"], r["wave"]) for r in res.extracted.collect()
        )
        b = sorted(
            (r["url"], r["wave"]) for r in crawl_result.extracted.collect()
        )
        assert a == b
        assert [l["attempted"] for l in res.lineage] == [
            l["attempted"] for l in crawl_result.lineage
        ]


class TestRobotsParse:
    """robots.txt → parsed robots table (operators/robots_parse.py)."""

    def test_grammar(self, spark):
        from no_fasel_scrapers_spark.operators.robots_parse import (
            parse_robots_txt,
        )

        bodies = [
            ("a.test", "User-agent: *\nDisallow: /private/\n"
                       "Disallow: /tmp/\nCrawl-delay: 2\n"),
            ("b.test", "# all open\nUser-agent: *\nDisallow:\n"),
            ("c.test", "User-agent: mybot\nDisallow: /only-mybot/\n\n"
                       "User-agent: *\nDisallow: /everyone/\n"),
            ("d.test", "User-agent: OtherBot\nUser-agent: mybot\n"
                       "Disallow: /shared-group/\nCrawl-delay: 0.5\n"),
            ("e.test", "garbage line\nDisallow: /orphan-rule/\n"),
            ("f.test", ""),
        ]
        df = spark.createDataFrame(bodies, "host string, robots_txt string")

        star = {
            r["host"]: (list(r["disallow_prefixes"]), r["crawl_delay_ms"])
            for r in parse_robots_txt(df, agent="*").collect()
        }
        assert star["a.test"] == (["/private/", "/tmp/"], 2000)
        assert star["b.test"] == ([], 0)  # empty Disallow = allow all
        assert star["c.test"] == (["/everyone/"], 0)
        assert star["d.test"] == ([], 0)  # no '*' group on d
        assert star["e.test"] == ([], 0)  # rules outside any group ignored
        assert star["f.test"] == ([], 0)

        bot = {
            r["host"]: (list(r["disallow_prefixes"]), r["crawl_delay_ms"])
            for r in parse_robots_txt(df, agent="mybot").collect()
        }
        # exact-agent group beats '*' (RFC 9309 selection)
        assert bot["c.test"] == (["/only-mybot/"], 0)
        # multi-User-agent run forms one group; fractional delay → ms
        assert bot["d.test"] == (["/shared-group/"], 500)
        # no named group on a → falls back to '*'
        assert bot["a.test"] == (["/private/", "/tmp/"], 2000)

    def test_feeds_apply_robots(self, spark):
        from no_fasel_scrapers_spark.operators.robots import apply_robots
        from no_fasel_scrapers_spark.operators.robots_parse import (
            parse_robots_txt,
        )

        df = spark.createDataFrame(
            [("h.test", "User-agent: *\nDisallow: /blocked/\n")],
            "host string, robots_txt string",
        )
        robots = parse_robots_txt(df)
        frontier = spark.createDataFrame(
            [("https://h.test/blocked/x", "h.test"),
             ("https://h.test/ok/y", "h.test")],
            "url string, host string",
        )
        allowed, blocked = apply_robots(frontier, robots)
        assert [r.url for r in allowed.collect()] == ["https://h.test/ok/y"]
        assert [r.url for r in blocked.collect()] == [
            "https://h.test/blocked/x"
        ]

    def test_rfc9309_longest_match(self, spark):
        """RFC 9309 precedence: longest match wins, ties go to Allow,
        ``*`` wildcards and trailing ``$`` anchors compile correctly."""
        from no_fasel_scrapers_spark.operators.robots import apply_robots
        from no_fasel_scrapers_spark.operators.robots_parse import (
            parse_robots_txt,
        )

        df = spark.createDataFrame(
            [("h.test",
              "User-agent: *\n"
              "Disallow: /dir/\n"          # blocks /dir/*
              "Allow: /dir/open/\n"        # longer allow re-opens subtree
              "Disallow: /tie\n"           # plen 4 ...
              "Allow: /tie\n"              # ... equal-length tie -> allow
              "Disallow: /*.zip$\n"        # wildcard + end anchor
              "Allow: /media/ok.zip$\n")],  # longer allow beats the glob
            "host string, robots_txt string",
        )
        robots = parse_robots_txt(df)
        cases = [
            # (path, expected_allowed)
            ("/dir/x", False),             # plain disallow
            ("/dir/open/x", True),         # longer allow wins
            ("/tie", True),                # tie -> allow (least restrictive)
            ("/tiebreak", True),           # both match as prefixes -> tie
            ("/a/b/c.zip", False),         # glob + $ anchor blocks
            ("/a/b/c.zipx", True),         # $ anchor: no match past end
            ("/media/ok.zip", True),       # longer allow beats the glob
            ("/elsewhere", True),          # no rule matches
        ]
        frontier = spark.createDataFrame(
            [(f"https://h.test{p}", "h.test") for p, _ in cases],
            "url string, host string",
        )
        allowed, blocked = apply_robots(frontier, robots)
        got_allowed = {r.url for r in allowed.collect()}
        for path, want in cases:
            url = f"https://h.test{path}"
            assert (url in got_allowed) == want, (path, want)
        assert allowed.count() + blocked.count() == len(cases)

    def test_rfc9309_unknown_host_allowed(self, spark):
        """A frontier host with no robots row passes the RFC-mode gate."""
        from no_fasel_scrapers_spark.operators.robots import apply_robots
        from no_fasel_scrapers_spark.operators.robots_parse import (
            parse_robots_txt,
        )

        robots = parse_robots_txt(spark.createDataFrame(
            [("known.test", "User-agent: *\nDisallow: /\n")],
            "host string, robots_txt string",
        ))
        frontier = spark.createDataFrame(
            [("https://unknown.test/x", "unknown.test"),
             ("https://known.test/x", "known.test")],
            "url string, host string",
        )
        allowed, blocked = apply_robots(frontier, robots)
        assert [r.url for r in allowed.collect()] == [
            "https://unknown.test/x"
        ]
        assert [r.url for r in blocked.collect()] == [
            "https://known.test/x"
        ]

    def test_prefix_table_gates_as_startswith(self, spark):
        """A prefix-only robots table (no ``rules``) gates exactly as
        ``path.startswith(prefix)``: regex metacharacters in a prefix,
        ``*`` and ``$`` included, are literal.  Both outputs carry the
        host's crawl_delay_ms, 0 for a host without a robots row."""
        from no_fasel_scrapers_spark.operators.robots import apply_robots

        prefixes = ["/a*b", "/end$", "/x.y", "/p(q", "/s\\t"]
        robots = spark.createDataFrame(
            [("h.test", prefixes, 250)],
            "host string, disallow_prefixes array<string>, "
            "crawl_delay_ms int",
        )
        paths = [
            "/a*b", "/a*bc", "/aXb", "/ab", "/end$", "/end$/x", "/end",
            "/x.y/z", "/xzy", "/p(q", "/pq", "/s\\t", "/st", "/s/t",
            "/open",
        ]
        frontier = spark.createDataFrame(
            [(f"https://h.test{p}", "h.test") for p in paths]
            + [("https://none.test/a*b", "none.test")],
            "url string, host string",
        )
        allowed, blocked = apply_robots(frontier, robots)
        got = {r.url: r.crawl_delay_ms for r in allowed.collect()}
        want = {
            f"https://h.test{p}" for p in paths
            if not any(p.startswith(x) for x in prefixes)
        }
        assert set(got) == want | {"https://none.test/a*b"}
        assert got.pop("https://none.test/a*b") == 0
        assert set(got.values()) == {250}
        assert {r.crawl_delay_ms for r in blocked.collect()} == {250}
        assert blocked.count() == len(paths) - len(want)


class TestSitemapParse:
    def test_urlset_and_index(self, spark):
        from no_fasel_scrapers_spark.operators.sitemap import parse_sitemaps

        bodies = [
            ("a.test", '<?xml version="1.0"?>\n<urlset>\n'
                       "<url><loc>https://a.test/p1</loc>"
                       "<lastmod>2024-01-01</lastmod>"
                       "<priority>0.8</priority></url>\n"
                       "<url><loc> https://a.test/p2 </loc></url>\n"
                       "</urlset>"),
            ("b.test", "<sitemapindex><sitemap>"
                       "<loc>https://b.test/sm1.xml</loc></sitemap>"
                       "<sitemap><loc>https://b.test/sm2.xml</loc>"
                       "</sitemap></sitemapindex>"),
            ("c.test", "<urlset><url><lastmod>2024</lastmod></url></urlset>"),
        ]
        df = spark.createDataFrame(bodies, "host string, sitemap_xml string")
        got = [
            (r.host, r.kind, r.url, r.lastmod, r.priority)
            for r in parse_sitemaps(df).orderBy("host", "url").collect()
        ]
        assert got == [
            ("a.test", "url", "https://a.test/p1", "2024-01-01", 0.8),
            ("a.test", "url", "https://a.test/p2", None, None),  # trimmed
            ("b.test", "sitemap", "https://b.test/sm1.xml", None, None),
            ("b.test", "sitemap", "https://b.test/sm2.xml", None, None),
            # c.test: entry without <loc> dropped entirely
        ]


class TestPipelinedFrontier:
    """run_crawl writes wave k's frontier on a thread UNDER wave k+1's
    fetch stage.  These pin the overlapped tail against the sequential
    oracle, and its plan size across waves."""

    def test_extracted_matches_oracle(self, crawl_result, oracle_result):
        got = sorted(
            (r["url"], r["wave"], r["text"])
            for r in crawl_result.extracted.select(
                "url", "wave", "text"
            ).collect()
        )
        want = sorted(
            (r["url"], r["wave"], r["text"]) for r in oracle_result.extracted
        )
        assert got == want

    def test_plan_size_bounded_across_waves(
        self, spark, fixture, tmp_path_factory
    ):
        """The pipelined tail must anchor every wave's frontier plan on
        that wave's durable artifacts: chaining the previous wave's
        in-memory plan grows the logical tree ~100 KB per wave (measured
        on the budgeted fixture crawl before the rebind) until plan
        stringification OOMs the driver on long crawls."""
        from pyspark.sql.classic.dataframe import DataFrame

        sizes = []
        orig = DataFrame.persist

        def patched(self, *a, **k):
            sizes.append(
                len(self._jdf.queryExecution().logical().treeString())
            )
            return orig(self, *a, **k)

        DataFrame.persist = patched
        try:
            res = _crawl(
                spark, fixture, tmp_path_factory.mktemp("crawlpb"), "cpb",
                wave_budget=40, max_waves=60,
            )
        finally:
            DataFrame.persist = orig
        assert res.waves >= 8  # the budget actually forced many waves
        # per-wave plans must not trend upward: the last waves' plans stay
        # within 2x of the early waves' largest
        early, late = max(sizes[: len(sizes) // 2]), max(
            sizes[len(sizes) // 2:]
        )
        assert late <= 2 * early, (early, late)


def test_site_col_matches_site_of_host(spark):
    """The crawl's Column and the extractor's Python function read one
    site order: a host naming two sites maps to the same one on both."""
    hosts = [
        "fasel.akwam.example", "www.cimanow-wecima.net", "HDW.Akwam.tv",
        "akwam.example", "example.org", None,
    ]
    got = (
        spark.createDataFrame([(h,) for h in hosts], "host string")
        .select(_site_col(F.col("host")).alias("site"))
        .collect()
    )
    assert [r["site"] for r in got] == [site_of_host(h) for h in hosts]
    assert [site_of_host(h) for h in hosts[:3]] == ["fasel", "wecima", "akwam"]
