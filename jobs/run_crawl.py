"""Crawl job entry point — run via spark-submit.

    spark-submit --py-files nfs_spark.zip jobs/run_crawl.py \
        --catalog /data/crawl_catalog [--pages /data/pages_parquet] \
        [--wave-budget N] [--max-waves K] [--audit] [--resume]

Without ``--pages`` the deterministic synthetic-site fixture is crawled
(smoke mode).  With ``--pages`` the given parquet/Iceberg-shaped pages
table is the offline fetch universe; seeds and robots are read from
``--seeds`` / ``--robots`` parquet when given, else the fixture's.

``--resume`` continues from the catalog's last complete wave — the
kill/restart path proven in tests/test_resume.py.  The catalog is the
crawl's only state: the run reads its seen set from the catalog's log,
and ``lineage_tail`` is the last lineage row the catalog holds (funnel
counts, ``n_hosts``, ``makespan_ms``, stage ``t_ms``).  A resume from a
published frontier skips ``--recrawl-urls``: the run that started the
catalog applied it, and applying it again would drop the urls re-fetched
since.

Packaging note (cluster mode): ``cd <repo> && zip -r nfs_spark.zip
no_fasel_scrapers_spark`` then pass ``--py-files nfs_spark.zip``; nothing
in the package imports anything outside stdlib + pyspark + numpy/pandas.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--catalog", required=True)
    ap.add_argument("--pages")
    ap.add_argument("--seeds")
    ap.add_argument("--robots")
    ap.add_argument("--wave-budget", type=int, default=None)
    ap.add_argument("--max-waves", type=int, default=24)
    ap.add_argument("--n-salts", type=int, default=8)
    ap.add_argument("--n-shards", type=int, default=32)
    ap.add_argument(
        "--expected-urls", type=int, default=2_000_000,
        help="crawl-size estimate that pins the bloom blob sizing "
             "(incremental OR-merge requires fixed m,k; overshoot only "
             "degrades fpp, the exact backstop keeps dedup exact)",
    )
    ap.add_argument("--audit", action="store_true")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--recrawl-urls",
        help="text file of URLs deleted from the exact seen set "
             "so they are fetched again",
    )
    ap.add_argument(
        "--seen-prior",
        help="parquet of previous-run seen rows (url) for incremental crawls",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from no_fasel_scrapers_spark.plans.crawl import resume_crawl, run_crawl
    from no_fasel_scrapers_spark.session import get_spark
    from no_fasel_scrapers_spark.sources.catalog import Catalog
    from no_fasel_scrapers_spark.sources.fixture import Fixture

    spark = get_spark(app_name="nfs-crawl", master=args.master)
    fx = None
    if not (args.pages and args.seeds and args.robots):
        fx = Fixture()
    pages = (
        spark.read.parquet(args.pages) if args.pages else fx.pages_df(spark)
    )
    seeds = (
        spark.read.parquet(args.seeds) if args.seeds else fx.seeds_df(spark)
    )
    robots = (
        spark.read.parquet(args.robots) if args.robots else fx.robots_df(spark)
    )
    cat = Catalog(args.catalog)

    kw = dict(
        wave_budget=args.wave_budget, max_waves=args.max_waves,
        n_salts=args.n_salts, n_shards=args.n_shards, audit=args.audit,
        expected_urls=args.expected_urls,
    )
    if args.seen_prior:
        kw["seen_prior"] = spark.read.parquet(args.seen_prior)
    if args.recrawl_urls:
        with open(args.recrawl_urls) as fh:
            urls = [(u.strip(),) for u in fh if u.strip()]
        kw["recrawl"] = spark.createDataFrame(urls, "url string")
    if args.resume:
        res = resume_crawl(spark, pages, seeds, robots, cat, **kw)
    else:
        res = run_crawl(spark, pages, seeds, robots, cat, **kw)

    summary = {
        "waves": res.waves,
        "extracted_rows": res.extracted.count(),
        "seen_urls": res.seen.select("url_hash").distinct().count(),
        "lineage_tail": res.lineage[-1] if res.lineage else None,
    }
    print(json.dumps(summary, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
