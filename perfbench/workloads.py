"""The benchmark's workloads: batch jobs run one at a time, in a closed loop.

Each workload lands its inputs from the seed, warms up, then repeats its
timed pass until the run's seconds are spent (at least one pass), and
checks every timed pass's output.  The engine is driven only through its
public functions, composed here the way a user would compose them.

``extract_bulk``
    Generated fasel detail pages landed as parquet go through scan →
    ``with_url_keys`` → ``mapInPandas(extract_map_in_pandas)`` → record
    assembly → parquet sink.  The Python extract path does most of the
    work; frontier, seen filter, politeness and catalog do none.
``site_recrawl``
    The daily incremental run: a generated one-host site is crawled with
    ``seen_prior`` holding 7/8 of its detail urls, so the bloom build and
    probe, the discovery prune and the frontier rewrite all do real work,
    while extraction handles only the pages that are new.

Input sizes are set so that both workloads, 22 runs each, fit an hour on
four cores (see README.md for the measured run lengths).
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field, fields
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_fasel_scrapers_spark.functions.canonical import with_url_keys
from no_fasel_scrapers_spark.functions.charset import decode_html
from no_fasel_scrapers_spark.functions.cleanups import (
    clean_iframe_source,
    py_capitalize,
)
from no_fasel_scrapers_spark.functions.extract import (
    EXTRACT_SCHEMA,
    extract_map_in_pandas,
    extract_page,
)
from no_fasel_scrapers_spark.plans.crawl import run_crawl
from no_fasel_scrapers_spark.sources.catalog import Catalog
from no_fasel_scrapers_spark.sources.pagegen import (
    detail_page,
    gen_pages,
    gen_site_pages,
    listing_page,
    site_seed_rows,
)

from .checks import (
    TextCheck,
    compare_texts,
    digest_problem,
    funnel_metrics,
    lineage_violations,
    stage_ms,
)
from .proctree import TreeMeter
from .tracing import Tracer

# A seed selects one of SEED_SLOTS input variants; each variant's input
# digest is recorded in digests.json.
SEED_SLOTS = 16
SETUP_REPS = 3          # input landings per run; setup_s takes the median
SAMPLE_PAGES = 300      # pages per in-process parse/decode sample

EXTRACT_PAGES = 24_000
# Spark's default split packs these 16 small files into one task per core.
EXTRACT_FILES = 16
# Pass times keep falling over the first few passes (JIT, worker pool),
# so the extract warm-up runs several passes.
EXTRACT_WARMUP_PASSES = 3

SITE_ITEMS = 8_000      # 8,000 details + 500 listings + the root
SITE_PER_PAGE = 16
# The prior holds 7,000 urls; the engine's default threshold (50,000)
# would skip the bloom filter at this size, so it is lowered to keep the
# bloom build and probe on the measured path.
SITE_BLOOM_MIN_SEEN = 4_000
# The warm-up crawls only the first wave, which runs every stage of the
# wave loop once (bloom build, seen-base publish, extraction, frontier
# write).  A whole warm-up crawl would add about 20 s to a run, and 22 runs
# of each workload have to fit in an hour.
SITE_WARMUP_WAVES = 1


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    trace: bool                 # a traced run: per-layer metrics wanted
    recorded: dict | None       # digests recorded for this seed's slot

    @property
    def slot(self) -> int:
        return self.seed % SEED_SLOTS

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


@dataclass
class Timed:
    """One closed loop of timed passes."""
    seconds: list[float]
    results: list
    meter: TreeMeter
    t0_ms: float
    t1_ms: float
    gc_s: float                   # JVM garbage-collection time


@dataclass
class Outcome:
    land_s: float                 # median input landing
    warmup_s: float
    pages: list[int]              # pages delivered per timed pass
    timed: Timed                  # untraced loop
    check: TextCheck
    problems: list[str]
    traced: Timed | None = None   # trace runs only
    layers: dict = field(default_factory=dict)
    digests: dict = field(default_factory=dict)

    @property
    def failed(self) -> int:
        return self.check.failed + len(self.problems)


def digest(df: DataFrame, *cols: str) -> str:
    """Order-free digest of a table: row count and the XOR of xxhash64
    over ``cols``."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*cols)).alias("x"),
    ).first()
    return f"{row['n']}:{(row['x'] or 0) & (2**64 - 1):016x}"


def land_repeatedly(ctx: Ctx, land: Callable[[SparkSession, str, int], dict]):
    """Land the inputs SETUP_REPS times into fresh directories (once in a
    traced run, which does not report setup_s); every landing must give
    the same digests.  Returns (dir of the last landing, its digests,
    median landing seconds, problems)."""
    times, digests, problems = [], [], []
    for rep in range(1 if ctx.trace else SETUP_REPS):
        d = ctx.path(f"input-{rep}")
        t = time.monotonic()
        with ctx.tracer.span("setup.land"):
            digests.append(land(ctx.spark, d, ctx.slot))
        times.append(time.monotonic() - t)
    if any(g != digests[0] for g in digests):
        problems.append(f"landings differ: {digests}")
    p = digest_problem(ctx.recorded, digests[-1])
    if p:
        problems.append(p)
    return d, digests[-1], statistics.median(times), problems


def jvm_gc_s(spark: SparkSession) -> float:
    """Collection time summed over the JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def closed_loop(ctx: Ctx, one_pass: Callable[[int], object], tag: str):
    """Repeat ``one_pass`` until ``ctx.seconds`` have elapsed, at least
    once; meter the process tree over the whole loop."""
    secs, results = [], []
    meter = TreeMeter()
    gc0 = jvm_gc_s(ctx.spark)
    t0_ms = time.time() * 1e3
    meter.start()
    start = time.monotonic()
    while True:
        t = time.monotonic()
        with ctx.tracer.span(f"pass.{tag}"):
            results.append(one_pass(len(results)))
        secs.append(time.monotonic() - t)
        if time.monotonic() - start >= ctx.seconds:
            break
    meter.stop()
    t1_ms = time.time() * 1e3
    return Timed(secs, results, meter, t0_ms, t1_ms, jvm_gc_s(ctx.spark) - gc0)


def loops(ctx: Ctx, one_pass: Callable[[str, int], object]):
    """The untraced loop, and in a trace run a traced loop after it."""
    with ctx.tracer.paused():
        timed = closed_loop(ctx, lambda k: one_pass("u", k), "untraced")
    traced = (
        closed_loop(ctx, lambda k: one_pass("t", k), "traced")
        if ctx.trace else None
    )
    return timed, traced


def text_rows(df: DataFrame) -> list[tuple[str, str | None]]:
    pdf = df.select("url", F.sha2("text", 256).alias("sha")).toPandas()
    return [
        (u, None if pd.isna(s) else s) for u, s in zip(pdf["url"], pdf["sha"])
    ]


def sum_checks(checks: list[TextCheck]) -> TextCheck:
    return TextCheck(
        *(sum(getattr(c, f.name) for c in checks) for f in fields(TextCheck))
    )


def sample_timings(pages: list[tuple[str, str, bytes]]) -> dict[str, float]:
    """Per-page cost of ``decode_html`` and ``extract_page`` in this
    process, no Spark: the median of three rounds over ``pages``.
    ``extract_page`` decodes too, so parse includes decode."""

    def per_page_us(fn) -> float:
        rounds = []
        for _ in range(3):
            t = time.perf_counter()
            for url, role, html in pages:
                fn(url, role, html)
            rounds.append(time.perf_counter() - t)
        return statistics.median(rounds) / len(pages) * 1e6

    return {
        "extract.decode_us_per_page": per_page_us(
            lambda u, r, h: decode_html(h)
        ),
        "extract.parse_us_per_page": per_page_us(extract_page),
    }


# ---------------------------------------------------------------------------
# extract_bulk
# ---------------------------------------------------------------------------

def _identity(batches):
    yield from batches


def extract_plans(spark: SparkSession, pages_path: str) -> dict[str, DataFrame]:
    """The bulk extract job and its cumulative prefixes (the rung ladder).

    The job's url keys are pruned by Spark (the records do not carry
    them), so the url_keys rung forces them out and the arrow rung, like
    the job, builds on the plain scan."""
    pages = spark.read.parquet(pages_path)
    keyed = with_url_keys(pages).select("url", "url_hash", "host_salt", "html")
    to_python = keyed.withColumn("role", F.lit("detail")).select(
        "url", "role", "html"
    )
    extracted = to_python.mapInPandas(
        extract_map_in_pandas, schema=EXTRACT_SCHEMA
    )
    records = extracted.select(
        "url",
        F.col("fields.item_id").alias("item_id"),
        F.coalesce(F.col("fields.fmt"), F.lit("N/A")).alias("fmt"),
        clean_iframe_source(F.col("fields.iframe_src")).alias("source"),
        F.transform(F.col("fields.genres"), py_capitalize).alias("genres"),
        "text",
    )
    return {
        "scan": pages.select("url", "html"),
        "url_keys": keyed,
        "arrow": to_python.mapInPandas(
            _identity, schema="url string, role string, html binary"
        ),
        "extract": extracted,
        "assemble": records,
    }


def land_extract(spark: SparkSession, d: str, slot: int) -> dict:
    """Land slot ``slot``'s generated pages under ``d``; return digests."""
    gen_pages(
        spark, EXTRACT_PAGES, partitions=EXTRACT_FILES,
        base_index=slot * EXTRACT_PAGES,
    ).write.parquet(d)
    return {"pages": digest(spark.read.parquet(d), "url", "html", "text")}


def extract_bulk(ctx: Ctx) -> Outcome:
    spark = ctx.spark
    base = ctx.slot * EXTRACT_PAGES
    pages_path, digests, land_s, problems = land_repeatedly(ctx, land_extract)

    def one_pass(tag: str, k: int) -> str:
        out = ctx.path(f"records-{tag}{k}")
        with ctx.tracer.span("job.extract_write"):
            extract_plans(spark, pages_path)["assemble"].write.parquet(out)
        return out

    t = time.monotonic()
    with ctx.tracer.span("warmup"):
        for k in range(EXTRACT_WARMUP_PASSES):
            one_pass("w", k)
    warmup_s = time.monotonic() - t

    timed, traced = loops(ctx, one_pass)

    with ctx.tracer.span("check"):
        expected = dict(text_rows(spark.read.parquet(pages_path)))
        checks = [
            compare_texts(expected, text_rows(spark.read.parquet(out)))
            for t_ in (timed, traced) if t_
            for out in t_.results
        ]
    check = sum_checks(checks)
    pages = [c.delivered for c in checks[: len(timed.results)]]

    layers = {}
    if ctx.trace:
        with ctx.tracer.span("layers.sample"):
            layers.update(sample_timings([
                (u, "detail", h)
                for u, h, _ in (
                    detail_page(base + i) for i in range(SAMPLE_PAGES)
                )
            ]))
        with ctx.tracer.span("layers.rungs"):
            layers.update(rung_ladder(ctx, pages_path))
    return Outcome(
        land_s, warmup_s, pages, timed, check, problems,
        traced=traced, layers=layers, digests=digests,
    )


RUNGS = ("scan", "url_keys", "arrow", "extract", "assemble", "sink")
# the rung each one is the delta over (url keys are pruned from the job)
RUNG_BASE = {
    "url_keys": "scan", "arrow": "scan", "extract": "arrow",
    "assemble": "extract", "sink": "assemble",
}


def rung_ladder(ctx: Ctx, pages_path: str, rounds: int = 2) -> dict:
    """Seconds each step of the extract path adds: every prefix plan runs
    into the no-op sink (``sink`` is the parquet write itself), ``rounds``
    times, and each rung reports its median minus its base rung's."""
    times: dict[str, list[float]] = {r: [] for r in RUNGS}
    for k in range(rounds):
        plans = extract_plans(ctx.spark, pages_path)
        for r in RUNGS:
            t = time.monotonic()
            with ctx.tracer.span(f"rung.{r}"):
                if r == "sink":
                    plans["assemble"].write.parquet(ctx.path(f"rung-sink{k}"))
                else:
                    plans[r].write.format("noop").mode("overwrite").save()
            times[r].append(time.monotonic() - t)
    med = {r: statistics.median(v) for r, v in times.items()}
    return {
        f"extract.rung.{r}_s": med[r] - (med[RUNG_BASE[r]] if r in RUNG_BASE else 0)
        for r in RUNGS
    }


# ---------------------------------------------------------------------------
# site_recrawl
# ---------------------------------------------------------------------------

SITE_PAGES = 1 + SITE_ITEMS // SITE_PER_PAGE + SITE_ITEMS


def _item_index() -> F.Column:
    """Detail item index from a generated detail url (-1 for others)."""
    m = F.regexp_extract("url", r"/movies/(\d+)-", 1)
    return F.when(m != "", m.cast("long") - 7000).otherwise(F.lit(-1))


def is_new(seed: int) -> F.Column:
    """Exactly one detail in each run of eight consecutive items is new;
    the seed picks which."""
    i = _item_index()
    return (i >= 0) & (
        F.pmod(F.xxhash64(F.lit(seed), F.floor(i / 8)), F.lit(8)) == i % 8
    )


def land_site(spark: SparkSession, d: str, slot: int) -> dict:
    """Land the site under ``d``/pages and slot ``slot``'s seen prior
    under ``d``/prior; return their digests."""
    gen_site_pages(
        spark, SITE_ITEMS, SITE_PER_PAGE, partitions=16
    ).write.parquet(d + "/pages")
    pages = spark.read.parquet(d + "/pages")
    pages.filter((_item_index() >= 0) & ~is_new(slot)).select(
        "url"
    ).write.parquet(d + "/prior")
    return {
        "pages": digest(pages, "url", "html", "text"),
        "prior": digest(spark.read.parquet(d + "/prior"), "url"),
    }


def site_recrawl(ctx: Ctx) -> Outcome:
    spark = ctx.spark
    d, digests, land_s, problems = land_repeatedly(ctx, land_site)
    pages = spark.read.parquet(d + "/pages")
    prior = spark.read.parquet(d + "/prior")
    seeds = spark.createDataFrame(
        [tuple(s.values()) for s in site_seed_rows()],
        "url string, site string, category string, priority int, "
        "depth int, role string, url_template string",
    )
    robots = spark.createDataFrame(
        [("fasel.test", [], 0)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms int",
    )

    def one_pass(tag: str, k: int, max_waves: int = 24):
        root = ctx.path(f"catalog-{tag}{k}")
        with ctx.tracer.span("plans.crawl.run_crawl"):
            res = run_crawl(
                spark, pages, seeds, robots, Catalog(root),
                seen_prior=prior, bloom_min_seen=SITE_BLOOM_MIN_SEEN,
                max_waves=max_waves,
            )
        with ctx.tracer.span("extracted.count"):
            res.extracted.count()
        # each crawl caches the pages table itself; drop it so the next
        # crawl pays its own scan, as a daily run would
        spark.catalog.clearCache()
        return root, res

    t = time.monotonic()
    with ctx.tracer.span("warmup"):
        one_pass("w", 0, max_waves=SITE_WARMUP_WAVES)
    warmup_s = time.monotonic() - t

    timed, traced = loops(ctx, one_pass)

    with ctx.tracer.span("check"):
        expected = dict(
            text_rows(pages.join(prior, "url", "left_anti"))
        )
        prior_urls = {r["url"] for r in prior.collect()}
        checks = []
        for t_ in (timed, traced):
            for _, res in (t_.results if t_ else []):
                rows = text_rows(res.extracted)
                checks.append(compare_texts(expected, rows))
                hits = sum(1 for u, _ in rows if u in prior_urls)
                if hits:
                    problems.append(f"{hits} seen-prior urls extracted")
                problems.extend(lineage_violations(res.lineage))
    check = sum_checks(checks)
    pages_out = [c.delivered for c in checks[: len(timed.results)]]

    layers = {}
    if ctx.trace:
        root, res = traced.results[-1]
        layers.update(crawl_layers(root, res, reachable=SITE_PAGES))
        layers["seen.prior_rows"] = len(prior_urls)
        sample = []
        for k in range(SAMPLE_PAGES):
            if k % 3 == 0:
                url, html, _ = listing_page(k // 3 + 1, SITE_ITEMS)
                sample.append((url, "listing", html))
            else:
                url, html, _ = detail_page(k)
                sample.append((url, "detail", html))
        with ctx.tracer.span("layers.sample"):
            layers.update(sample_timings(sample))
    return Outcome(
        land_s, warmup_s, pages_out, timed, check, problems,
        traced=traced, layers=layers, digests=digests,
    )


def catalog_stats(root: str) -> tuple[int, int, int]:
    """What a crawl left under ``root``: (published snapshot manifests,
    files, bytes), Hadoop ``.crc`` side files excluded."""
    snaps = files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
            if os.path.basename(dirpath) == "_snapshots" and n.endswith(".json"):
                snaps += 1
    return snaps, files, size


def crawl_layers(root: str, res, reachable: int) -> dict[str, float]:
    """Per-layer figures of one finished crawl, read from its lineage and
    its catalog."""
    out = {"crawl.waves": res.waves}
    out.update(stage_ms(res.lineage))
    out.update(funnel_metrics(res.lineage, reachable))
    snaps, files, size = catalog_stats(root)
    pages = out["funnel.fetched"]
    out["catalog.snapshots"] = snaps
    out["catalog.files"] = files
    out["catalog.mb_written"] = size / 1e6
    out["catalog.bytes_per_page"] = size / pages if pages else 0.0
    blobs = Catalog(root).latest("blobs")
    out["seen.blob_mb"] = catalog_stats(blobs.path)[2] / 1e6 if blobs else 0.0
    return out


WORKLOADS = {"extract_bulk": extract_bulk, "site_recrawl": site_recrawl}
LANDERS = {"extract_bulk": land_extract, "site_recrawl": land_site}
