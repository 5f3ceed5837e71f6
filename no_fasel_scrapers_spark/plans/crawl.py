"""The crawl engine: deterministic frontier waves over an offline pages table.

Replaces the reference's whole orchestration machinery — nested thread/
process pools (O13), static page ranges (O4), per-dict dedup (O10), cookie
mutex (O1/O2) — with one declarative wave loop:

    wave k:  frontier ──take_wave(budget)──▶ wave rows
             ──robots gate──▶ allowed        (O-north: robots + delay)
             ──bloom + exact anti-join──▶ fresh   (O10 at scale)
             ──politeness schedule──▶ scheduled   (O-north: token bucket)
             ──join pages table──▶ fetched        ("fetch" = offline join)
             ──mapInPandas extract──▶ extracted   (O6/O7, Arrow batches)
             links + pagination expansion ──▶ frontier k+1
             seen ∪= attempted
             checkpoint (frontier, seen, outputs, lineage row) → catalog

The catalog is the crawl's only state.  Every wave publishes its
extracted and seen deltas, its next frontier and one lineage row (the
funnel counts, ``n_hosts``, the politeness ``makespan_ms`` and the stage
``t_ms`` map); ``run_crawl`` reads the seen set from the catalog's log
whenever it exists and returns the lineage rows as published, so a
killed job resumes exactly (north_rule) and a resumed crawl reports the
same rows as an uninterrupted one; ``resume_crawl`` proves it in
tests/test_resume.py.

Scale notes (100 TB / 10^10 URLs) — the big tables are never shuffled:
- "fetch": a broadcast left-semi streams the pages table once per wave,
  reduced to the wave's url_hashes; the outer join then runs between two
  wave-sized inputs.  No shuffle of the corpus, ever;
- the seen set is append-only (per-wave O(delta) snapshots, read_log
  reassembly, atomic 'compact' markers for recrawl invalidation) and its
  exact-dedup check streams it the same semi-reduce way — the anti-join
  runs against the wave-bounded hit set, broadcast; the frontier
  pre-prune follows the same discipline (leftover vs the wave delta,
  discoveries vs a semi-reduced hit set — see the loop-bottom comment),
  so no stage anywhere shuffles the seen set;
- bloom blobs are incremental: pinned (m, k) sizing from expected_urls,
  each wave's published seen keys ORed into the standing blob of their
  shard (O(filter bytes) per wave), checkpointed and restored on resume;
  only bloom-positive rows reach the exact backstop.  The loop holds the
  filter as one opaque value and runs four operations on it (restore,
  build, OR in, publish — seen_filter.CrawlFilter).  seen_filter picks
  its form from the pinned sizing: held on the driver up to its 512 MB
  ceiling (updated with pyarrow and numpy, published as an arrow table,
  no Spark job), a blob table beyond it (one shard cogroup per update);
  the form chooses the probe;
- a global audit rank is OFF by default (single-partition window); the
  deterministic order still exists logically via the (priority, depth,
  url_hash) key;
- the frontier staging table IS rewritten per wave (leftover ∪
  discoveries) — a deliberate trade-off: unlike the monotonically-growing
  seen set, the frontier shrinks toward exhaustion and the total cost is
  bounded by max_waves × |frontier| (linear in waves, not quadratic in
  crawl size).  An append-log frontier would need a second
  processed-url exclusion log (robots-blocked rows never enter seen) and
  an iterative top-K; the rewrite buys the simple deterministic
  take_wave contract instead.

Live-fetch note: the offline join stands in for HTTP.  A live adapter
replaces ``_fetch_offline`` with a mapInPandas batch fetcher consuming
``scheduled_ms`` (token bucket) + a driver-refreshed auth token broadcast
(cookie gate O1) — deliberately isolated so the engine itself stays
deterministic and testable.
"""

from __future__ import annotations

import functools
import logging
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import ParamSpec, TypeVar

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..functions.extract import EXTRACT_SCHEMA, SITES, extract_map_in_pandas
from ..operators.frontier import (
    ORDER_COLS,
    dedup_within,
    expand_pagination_df,
    pagination_probe_filter,
    seeds_to_frontier,
    take_wave,
    with_audit_rank,
    with_frontier_keys,
)
from ..operators.politeness import schedule_fetches
from ..operators.robots import apply_robots
from ..operators.seen_filter import (
    CrawlFilter,
    blob_sizings,
    dedup_against_seen,
)
from ..sources.catalog import Catalog

P = ParamSpec("P")
R = TypeVar("R")

# extract_map_in_pandas's output: EXTRACT_SCHEMA + the frontier columns
_WAVE_EXTRACT_SCHEMA = (
    EXTRACT_SCHEMA
    + ", category string, depth int, priority int, url_template string"
)
CRAWL_EXTRACT_SCHEMA = _WAVE_EXTRACT_SCHEMA + ", wave int"


@dataclass
class CrawlResult:
    extracted: DataFrame          # all waves, CRAWL_EXTRACT_SCHEMA
    seen: DataFrame               # url_hash, url, wave (+rank in audit mode)
    lineage: list[dict] = field(default_factory=list)
    waves: int = 0


def _observed(
    obs: Observation, fallback_df: DataFrame, *metrics: Column
) -> dict[str, int]:
    """The Observation's ``metrics`` as ints (an empty sum or max reads
    0), with an empty-plan fallback.

    When a wave's ``scheduled`` set materializes EMPTY at runtime (every
    candidate robots-blocked or already seen — e.g. a recrawled page
    re-discovering only a disallowed link, or a resume whose whole
    frontier is already in the seen set), AQE's empty-relation propagation
    can rewrite the wave's write plan around the CollectMetrics nodes, so
    the Observation never fires and PySpark's ``get`` trips a JVM-side
    assertion.  The fallback, one aggregate job computing the same
    ``metrics`` over ``fallback_df``, only runs for such degenerate waves,
    where the input is the wave-bounded (persisted) frontier slice or the
    wave's written snapshot — never the pages or seen tables."""
    try:
        got = obs.get
    except Exception:
        got = fallback_df.agg(*metrics).first().asDict()
    return {k: int(v or 0) for k, v in got.items()}


def _check_wave_budget(wave_budget: int | None) -> None:
    """A budget below 1 takes an empty wave and leaves the whole frontier
    over, so no wave would ever make progress; refuse it before anything
    touches the catalog."""
    if wave_budget is not None and wave_budget < 1:
        raise ValueError(f"wave_budget must be >= 1 or None: {wave_budget}")


def _prep_pages(pages: DataFrame) -> DataFrame:
    """Slim fetch-side projection keyed by url_hash.

    If the pages table already carries ``url_hash`` (contract: it MUST be
    ``xxhash64(url)``), reuse it instead of recomputing — critically, this
    keeps a url_hash-BUCKETED corpus table's output partitioning intact,
    so the per-wave fetch join reads co-located buckets and the HTML side
    never shuffles at all (the 100 TB ingest pattern: pay one bucketed
    write at ingest, amortize it over every crawl/recrawl).  Computing
    ``xxhash64(url)`` fresh would be a new expression Catalyst can't
    relate to the bucket spec."""
    if "url_hash" in pages.columns:
        return pages.select(
            F.col("url").alias("p_url"), "url_hash", "html"
        )
    return pages.select(
        F.col("url").alias("p_url"),
        F.xxhash64(F.col("url")).alias("url_hash"),
        "html",
    )


def _empty_frame(spark: SparkSession, schema: StructType | str) -> DataFrame:
    """An empty frame planned as a ``LocalRelation``, which the optimizer
    prunes from a union.  ``createDataFrame([], schema)`` plans a
    4-partition ``LogicalRDD`` instead, whose tasks run in every scan."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(to_arrow_schema(schema).empty_table())


_SEEN_SCHEMA = "url_hash long, url string, wave int, rank int"
# one row per wave: the funnel counts, the hosts the wave scheduled, the
# politeness makespan and the driver-side stage marks
_LINEAGE_SCHEMA = pa.schema(
    [("wave", pa.int32())]
    + [
        (c, pa.int64())
        for c in (
            "frontier_size", "robots_blocked", "dedup_dropped", "attempted",
            "fetched", "missed", "n_hosts", "makespan_ms",
        )
    ]
    + [("t_ms", pa.map_(pa.string(), pa.int64()))]
)


def _read_lineage(catalog: Catalog) -> list[dict]:
    """The published lineage rows in wave order, read by pyarrow: no
    Spark job."""
    rows = [
        r
        for s in catalog.snapshots("lineage")
        for r in pq.read_table(s.path).to_pylist()
    ]
    for r in rows:
        r["t_ms"] = dict(r["t_ms"])
    return sorted(rows, key=lambda r: r["wave"])


class _Background:
    """``fn(*args, **kw)`` on a thread.  ``join`` re-raises its exception
    or returns its result; ``ms`` is its wall time.  InheritableThread:
    the caller's job group and description also cover the thread's
    jobs."""

    def __init__(self, fn: Callable, *args, **kw):
        self.ms = 0
        self._out: tuple = (None, None)

        def run():
            t = time.monotonic()
            try:
                self._out = (fn(*args, **kw), None)
            except BaseException as ex:  # re-raised on join
                self._out = (None, ex)
            self.ms = round((time.monotonic() - t) * 1000)

        self._thread = InheritableThread(target=run, daemon=True)
        self._thread.start()

    def join(self):
        self._thread.join()
        res, err = self._out
        if err is not None:
            raise err
        return res


# The frames a wave caches (`wave`, `scheduled`, the pipelined frontier)
# come out of window shuffles cut into spark.sql.shuffle.partitions pieces.
# With this conf at Spark's default (false) a cached plan keeps that layout
# and AQE never coalesces it, so every later stage over a few-hundred-row
# wave ran 32 tasks.  Each Python task then paid ~0.25 CPU-s before its
# UDF body ran (4-core host), nearly all of it Spark's per-task re-read of
# pyspark.zip's directory, which the engine's daemon now skips
# (worker_daemon.py; ~0.03 CPU-s a task left).  The conf is read when a
# frame is persisted.
_CACHED_PLAN_REPARTITION = (
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
)


def _coalescing_cached_plans(crawl: Callable[P, R]) -> Callable[P, R]:
    """Runs ``crawl(spark, ...)`` with the conf above set to true, so AQE
    coalesces every frame the crawl caches — for the crawl's own duration
    only: the caller's value comes back afterwards, also when the crawl
    raises, so other queries on the session keep their cached-plan
    layout."""

    @functools.wraps(crawl)
    def wrapper(spark: SparkSession, *args, **kw):
        prev = spark.conf.get(_CACHED_PLAN_REPARTITION, None)
        spark.conf.set(_CACHED_PLAN_REPARTITION, "true")
        try:
            return crawl(spark, *args, **kw)
        finally:
            if prev is None:
                spark.conf.unset(_CACHED_PLAN_REPARTITION)
            else:
                spark.conf.set(_CACHED_PLAN_REPARTITION, prev)

    return wrapper


@_coalescing_cached_plans
def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    catalog: Catalog,
    *,
    wave_budget: int | None = None,
    max_waves: int = 24,
    n_salts: int = 8,
    n_shards: int = 32,
    bloom_min_seen: int = 50_000,
    expected_urls: int = 2_000_000,
    seen_prior: DataFrame | None = None,
    recrawl: DataFrame | None = None,
    audit: bool = False,
    start_wave: int = 0,
    frontier: DataFrame | None = None,
    cache_pages: bool = True,
    max_pagination: int = 100_000,
) -> CrawlResult:
    _check_wave_budget(wave_budget)
    pages_k = _prep_pages(pages)
    # The pages side is scanned once per wave.  Caching pays when the
    # source is expensive to recompute (the test fixtures materialize from
    # driver-side rows) and fits in memory; at corpus scale (10^6+ pages,
    # 100 TB on a cluster) the deserialized-html cache is strictly worse
    # than re-scanning columnar parquet with the semi-join's pushdown —
    # pass cache_pages=False there (bench.py --crawl-scale does).
    if cache_pages:
        pages_k.cache()

    if frontier is None:
        frontier = seeds_to_frontier(seeds, n_salts)
    # the seen set is the catalog's log whenever there is one (a resume,
    # or a run over a published history); imported history only seeds a
    # fresh catalog
    if catalog.exists("seen"):
        seen = catalog.read_log(spark, "seen")
    else:
        seen = _empty_frame(spark, _SEEN_SCHEMA)
        if seen_prior is not None:
            seen = seen.unionByName(
                with_frontier_keys(seen_prior.select("url"), n_salts).select(
                    "url_hash", "url",
                    F.lit(-1).alias("wave"), F.lit(-1).alias("rank"),
                )
            )
    if recrawl is not None:
        # recrawl invalidation deletes from the exact seen set: dropped
        # urls become fetchable again this run (their stale bloom bits
        # only send them through the exact backstop, which passes them)
        keys = with_frontier_keys(recrawl.select("url"), n_salts).select(
            "url_hash"
        )
        seen = seen.join(keys.distinct(), "url_hash", "left_anti")
        if catalog.exists("seen"):
            # the invalidated set replaces the append-log atomically: one
            # snapshot marked 'compact' restarts the log (Iceberg REPLACE)
            catalog.write(
                seen, "seen",
                meta={"wave": start_wave - 1, "kind": "compact"},
            )
            seen = catalog.read_log(spark, "seen")
    if seen_prior is not None and not catalog.exists("seen"):
        # fresh run with imported history: publish it as the log base so
        # per-wave writes stay O(delta) (the seen set is never rewritten).
        # This matters beyond efficiency: the wave loop re-reads `seen`
        # from the log after every wave, so imported history that never
        # reached the log would silently stop deduping from wave 1 on
        # (found building recrawl_delta, round 5).
        catalog.write(
            seen, "seen", meta={"wave": start_wave - 1, "kind": "base"}
        )
        seen = catalog.read_log(spark, "seen")

    # running seen-set size: the log's manifest rows, then each wave's
    # attempted count, so the gates below cost no count() job.  It is at
    # least the distinct keys (an imported history may repeat a url), so
    # it is 0 exactly when the seen set is empty; the bloom gate only
    # picks when the filter is built — dedup stays exact either way
    seen_count = catalog.log_rows("seen")

    # The robots join of every wave (apply_robots, which also carries the
    # crawl delay) re-ran the caller's plan: a 4-task Python scan for a
    # driver-list frame, a host shuffle for parse_robots_txt output.
    # Read it once and stage it as a LocalRelation; it is broadcast every
    # wave, so holding it on the driver adds no memory bound.
    robots_b = spark.createDataFrame(robots.toArrow())
    wave_no = start_wave

    # Bloom blobs are maintained INCREMENTALLY: built once from the full
    # seen set when it first crosses bloom_min_seen (or restored from the
    # catalog on resume), then each wave ORs in its published seen keys —
    # O(filter bytes) per wave, never an O(|seen|) rebuild.  (m, k) are
    # pinned from expected_urls so the blobs stay OR-mergeable; blowing
    # past the estimate only degrades fpp, the exact backstop keeps dedup
    # exact.  Stale bits after recrawl invalidation are likewise safe:
    # bloom false positives are always corrected by the backstop.
    bloom = CrawlFilter(n_shards, expected_urls)
    # the standing filter, in the form `bloom` picked; None until built
    blobs = None
    b_snap = catalog.latest("blobs")
    if b_snap is not None:
        log = logging.getLogger(__name__)
        # Fail-fast guard (ADVICE r1): restored blobs carry pinned (m, k);
        # a resume launched with a different --expected-urls would only
        # blow up at merge time, mid-wave, after robots/dedup/fetch work.
        # Check on the driver up front — n_shards rows, read by pyarrow —
        # and trigger a one-shot rebuild from the seen set instead of
        # dying later (the loop below rebuilds whenever blobs is None).
        got = blob_sizings(b_snap.path)
        # the seen and blob publishes are two commits, so a kill between
        # them leaves a filter without the last wave's keys — false
        # negatives, which the filter must never have
        covered = b_snap.meta.get("seen_wave")
        if any(g != bloom.sizing for g in got):
            log.warning(
                "restored filter blobs have (m, k) = %s but expected_urls="
                "%d pins %s; discarding and rebuilding from the seen set",
                sorted(got), expected_urls, bloom.sizing,
            )
        elif covered is None or int(covered) < start_wave - 1:
            log.warning(
                "restored filter blobs cover the seen log through wave %s "
                "but the crawl resumes at wave %d; rebuilding from the "
                "seen set", covered, start_wave,
            )
        else:
            blobs = bloom.restore(spark, b_snap.path)

    # Pruned-frontier invariant: the frontier written at the bottom of a
    # wave never contains an already-attempted url_hash.  Fresh runs start
    # with empty seen (holds trivially); resumed runs restored a frontier
    # that was pruned before checkpointing (holds); ONLY a fresh run
    # importing prior history starts with a frontier that may overlap the
    # seen set — its first wave prunes leftover against the FULL seen set
    # once (flag below), after which the invariant lets every later wave
    # prune with wave-bounded joins only.
    leftover_vs_full = seen_prior is not None

    # Loop-invariant Column trees, built ONCE: Columns are immutable
    # name-bound expression trees, so the same objects re-apply every wave.
    # Rebuilding them per wave cost ~0.5s of py4j roundtrips per wave at
    # any scale (driver fixed cost, measured round 3).
    _links_cols = (
        F.explode_outer("links").alias("l"),
        F.col("url").alias("discovered_from"),
        F.col("category"), F.col("depth"), F.col("priority"),
    )
    _child_cols = (
        F.col("l.url").alias("url"),
        F.lit(None).cast("string").alias("site"),
        F.col("category"),
        F.col("l.role").alias("role"),
        F.lit(None).cast("string").alias("url_template"),
        (F.col("depth") + 1).cast("int").alias("depth"),
        F.col("priority").cast("int").alias("priority"),
        F.col("discovered_from"),
    )
    _site_expr = _site_col(F.col("host"))
    _frontier_shape = [
        "url", "url_hash", "host", "host_salt", "site", "category",
        "role", "url_template", "depth", "priority", "discovered_from",
    ]
    # reference HDW over-scan quirk: pages 1..last+1
    # (HDWMoviesScraper.py:60)
    _probe_last_page = F.col("last_page") + F.when(
        F.col("site") == "hdw", 1
    ).otherwise(0)
    _probe_cols = (
        F.col("site"), F.col("category"), F.col("url_template"),
        _probe_last_page.alias("last_page"),
        F.col("depth"), F.col("priority"), F.col("url").alias("from_url"),
    )
    # extract_page derives `site` from the url, so it is not passed in
    _extract_in_cols = (
        "url", "role", "html", "category", "depth", "priority",
        "url_template",
    )
    # upper-bound bookkeeping for the pipelined frontier (see the tail):
    # the rows expand_pagination_df expands from _probe_cols
    _extent_pred = pagination_probe_filter(_probe_last_page)
    _links_size = F.when(F.col("links").isNull(), F.lit(0)).otherwise(
        F.size(F.col("links"))
    )
    # pages one extent row can expand to; summed over the extent rows it
    # bounds expand_pagination_df's per-(site, category, template, depth,
    # priority) max from above
    _pag_extent = F.least(_probe_last_page, F.lit(max_pagination))
    # the wave's metrics, observed on its one write action
    _count = (F.count(F.lit(1)).alias("n"),)
    _sched_metrics = _count + (
        F.approx_count_distinct("host").alias("n_hosts"),
        F.max("scheduled_ms").alias("makespan_ms"),
    )
    _hit_metrics = (
        F.sum(F.when(F.col("text").isNotNull(), 1).otherwise(0)).alias("n"),
        # raw discovery masses for the pipelined tail's frontier-size
        # upper bound — they ride the same write action for free
        F.sum(_links_size).alias("n_links"),
        F.sum(F.when(_extent_pred, _pag_extent)).alias("n_pag"),
    )

    # ---- pipelined-frontier state ---------------------------------------
    # The wave-k frontier writer runs on a thread UNDER wave k+1's fetch
    # stage.  `frontier_ub` carries a row-count UPPER BOUND for the
    # frontier the writer is still materializing — what the broadcast-
    # safety decision (bounded_wave) uses, since its manifest count is
    # still in flight.
    f_writer: _Background | None = None
    _prev_nxt: DataFrame | None = None
    frontier_ub: int | None = None

    while wave_no < max_waves:
        t_ms: dict = {}
        _t0 = time.monotonic()

        def _mark(stage):
            nonlocal _t0
            now = time.monotonic()
            t_ms[stage] = round((now - _t0) * 1000)
            _t0 = now

        if frontier_ub == 0:
            # the upper bound is exact at zero (no leftover, link and
            # pagination masses both zero), so the frontier the background
            # writer is publishing is provably empty
            break
        frontier = dedup_within(frontier)
        if frontier_ub is None and frontier.isEmpty():
            # frontiers without a bound only — the initial/resumed one and
            # a budgeted run's (dedup_within cannot turn nonempty into
            # empty): an isEmpty on an unbudgeted in-flight frontier would
            # force its broadcasts to build a second time (broadcast
            # exchanges are not shared across jobs); a nonzero-ub-but-
            # empty frontier instead drains through one degenerate empty
            # wave that the tail detects (n_wave == 0) and stops after
            break
        _mark("frontier_check")

        wave, leftover = take_wave(frontier, wave_budget)
        # wave/allowed/fresh sizes are collected as Observations on the one
        # write action below — zero extra count() jobs per wave; blocked and
        # dropped counts follow arithmetically
        obs_wave, obs_allowed, obs_sched = (
            Observation(), Observation(), Observation(),
        )
        # persist wave: its subplan (frontier sort + top-K) is referenced
        # from both dedup union branches and the fetch path — caching runs
        # it once per wave instead of per duplicate subtree
        wave = wave.observe(obs_wave, *_count).persist()
        # allowed rows carry their host's crawl_delay_ms for the schedule
        allowed, _blocked = apply_robots(wave, robots_b)
        allowed = allowed.observe(obs_allowed, *_count)

        # Below bloom_min_seen the exact backstop alone is cheaper than
        # building + probing blobs (two extra Python stages per wave);
        # semantics are identical either way.  First crossing builds the
        # blobs once from the full seen set.
        if blobs is None and seen_count >= bloom_min_seen:
            # seen_wave: the last wave whose seen delta the blobs hold
            b_meta = {"wave": wave_no, "seen_wave": wave_no - 1}
            blobs = bloom.publish(
                bloom.build(seen),
                lambda t: catalog.write(t, "blobs", meta=b_meta).path,
            )
        # a broadcast hint is only safe when the wave is KNOWN bounded:
        # either by an explicit budget, or because the observation-derived
        # UPPER bound on this frontier (leftover + raw link mentions +
        # deduped pagination extents, >= the true size) is small — ≤5M
        # rows is ≤~40MB of hash keys.  Unbudgeted unknown-size waves
        # leave the strategy to AQE (which still broadcasts small runtime
        # sizes, and falls back instead of OOMing).
        bounded_wave = (
            (wave_budget is not None and wave_budget <= 50_000_000)
            or (frontier_ub is not None and frontier_ub <= 5_000_000)
        )
        if seen_count == 0:
            # the seen set is empty, the anti-join is the identity — skip
            # its broadcast build + probe stages
            fresh = allowed
        else:
            fresh = dedup_against_seen(
                allowed, seen, blobs, n_shards, broadcast_hint=bounded_wave
            )
        scheduled = schedule_fetches(fresh, n_salts).observe(
            obs_sched, *_sched_metrics
        )

        # scheduled feeds several downstream actions this wave (seen
        # delta, fetch join); persist so the robots/bloom/
        # politeness chain runs once, not once per action
        scheduled = scheduled.persist()

        # "fetch" = join the wave against the pages table WITHOUT ever
        # shuffling the big side: a broadcast left-semi first reduces pages
        # to the wave's url_hashes in one streaming pass (a LeftOuter with
        # pages on the build side would fall back to shuffling the whole
        # pages table once the fixture-sized broadcast no longer fits); the
        # outer join then runs between two wave-sized inputs, which AQE
        # broadcasts.  The broadcast is one 8-byte hash per wave row,
        # bounded by wave_budget.
        wave_keys = scheduled.select("url_hash")
        if bounded_wave:
            wave_keys = F.broadcast(wave_keys)
        pages_wave = pages_k.join(wave_keys, "url_hash", "left_semi")
        # NO (host, host_salt) repartition here: the join output is already
        # uniformly hash-partitioned on url_hash, and a (host, host_salt)
        # repartition after the join would shuffle the wave's FULL HTML a
        # second time (measured: the single largest cost of a 10^6-page
        # wave).  Host grouping only matters for LIVE fetching — the live
        # path (plans/live_fetch.py) salt-repartitions its slim wave
        # BEFORE fetching, when rows are still url-metadata only; here the
        # politeness schedule (fetch_seq/scheduled_ms) is already computed
        # on the slim side, and extraction is row-wise.
        #
        # SHUFFLE_HASH pin (measured pathology, round 2): AQE estimated
        # the semi-joined pages side small from the semi's selectivity
        # guess and converted this join to broadcast — materializing the
        # wave's FULL HTML (1 GB+ at 10^6 pages, unbounded at 10^10) as a
        # broadcast relation AFTER already shuffling it for the initial
        # sort-merge plan.  The hint gives the one plan that is safe at
        # every wave size: each side shuffles once on url_hash, per-
        # partition hash build, no sort of the html side, no html
        # broadcast ever.
        #
        # The hint sits on the SLIM side (round-4 fix): hinting pages_wave
        # made the SHJ BuildRight — every task built its hash relation out
        # of the wave's HTML (~250k rows × ~3 KB ≈ 750 MB per partition at
        # a 12M-page wave; allocation failures killed the crawl).  Spark
        # ≥3.3 builds the preserved side of a left-outer SHJ (SPARK-36612
        # landed in 3.3.0; this repo floors on PySpark 4.x anyway), so
        # hinting `scheduled` gives BuildLeft: the hash
        # relation holds only slim url rows and the HTML side streams
        # through the probe — bounded build memory at ANY wave size.
        fetched = scheduled.hint("SHUFFLE_HASH").join(
            pages_wave, "url_hash", "left"
        ).filter(
            F.col("p_url").isNull() | (F.col("p_url") == F.col("url"))
        )

        extracted = (
            fetched.select(*_extract_in_cols)
            .mapInPandas(extract_map_in_pandas, schema=_WAVE_EXTRACT_SCHEMA)
            .withColumn("wave", F.lit(wave_no))
        )

        # ---- checkpoint this wave's outputs (append-log snapshot) --------
        # the hit count rides the write action as an Observation — the
        # separate wave_ex.filter(...).count() job it replaces was one of
        # the larger per-wave fixed costs (VERDICT r1 next-steps #9)
        obs_hit = Observation()
        extracted = extracted.observe(obs_hit, *_hit_metrics)
        snap = catalog.write(
            extracted, "extracted", meta={"wave": wave_no, "kind": "delta"}
        )
        wave_ex = catalog.read(spark, "extracted", snap.version)
        _mark("fetch_extract_write")

        # ---- wave metrics -------------------------------------------------
        # counts observed during the write action above (obs.get blocks
        # until that action finished, which it already has)
        n_wave = _observed(obs_wave, wave, *_count)["n"]
        n_allowed = _observed(obs_allowed, allowed, *_count)["n"]
        sched = _observed(obs_sched, scheduled, *_sched_metrics)
        n_fresh = sched["n"]
        seen_count += n_fresh
        # obs_hit rides the SAME write plan AQE can rewrite around the
        # CollectMetrics nodes on a degenerate empty wave — fall back like
        # the other three (the recount reads the tiny written snapshot)
        hit = _observed(obs_hit, wave_ex, *_hit_metrics)
        _mark("wave_counts")
        links_df = wave_ex.select(*_links_cols).filter(
            F.col("l").isNotNull()
        )

        # ---- audit rank / seen update ------------------------------------
        if audit:
            ranked = with_audit_rank(scheduled)
            seen_delta = ranked.select(
                "url_hash", "url", F.lit(wave_no).alias("wave"),
                F.col("rank").cast("int").alias("rank"),
            )
        else:
            seen_delta = scheduled.select(
                "url_hash", "url", F.lit(wave_no).alias("wave"),
                F.lit(-1).alias("rank"),
            )
        # append-log: only this wave's delta is written (O(delta), never a
        # rewrite of the growing set — the 10^10-URL requirement); read_log
        # reassembles base + deltas as a flat multi-path parquet scan.
        # The write runs on a thread: its jobs overlap the ENTIRE
        # next-frontier stage below (prune + pagination + frontier write),
        # which depends on wave_ex, scheduled and the PREVIOUS log read but
        # NOT on this write; everything that consumes the updated log (the
        # next wave's dedup gate) sits after the join() at wave end.
        # right-size the delta's file count from the observed wave size
        # (4M rows ≈ a few hundred MB of url+hash per file): the delta
        # inherits `scheduled`'s shuffle layout (up to shuffle.partitions
        # pieces), which at small waves would write many near-empty files
        # per wave and make the log's read fan-out O(partitions·waves)
        _seen_parts = max(1, min(n_shards, n_fresh // 4_000_000 + 1))
        seen_out = seen_delta.coalesce(_seen_parts)

        def _write_seen(standing):
            """Publishes the seen delta, then ORs its keys into the
            standing filter and publishes that; returns the new filter."""
            s_snap = catalog.write(
                seen_out, "seen", meta={"wave": wave_no, "kind": "delta"}
            )
            if standing is None:
                return None
            b_meta = {"wave": wave_no, "seen_wave": wave_no}
            return bloom.publish(
                bloom.or_in(standing, s_snap.path),
                lambda t: catalog.write(t, "blobs", meta=b_meta).path,
            )

        seen_job = _Background(_write_seen, blobs)
        _mark("seen_checkpoint")

        # ---- next frontier -------------------------------------------------
        child = (
            with_frontier_keys(links_df.select(*_child_cols), n_salts)
            .withColumn("site", _site_expr)
            .select(*_frontier_shape)
        )

        # pagination expansion stays on executors (no probe collect): a wave
        # discovering a million listing extents expands distributed.
        # max_pagination is the anti-absurd-extent clamp — size it from the
        # expected catalog extent (a 3M-item site declares 187,500 listing
        # pages; the 100k default silently truncated it to 1.7M of 3.19M
        # pages, round-4 measurement)
        pagination = expand_pagination_df(
            wave_ex.select(*_probe_cols), n_salts, max_pages=max_pagination
        )

        # ---- frontier pre-prune (wave-bounded; never shuffles seen) -----
        # Round 1 anti-joined the whole nxt against the whole seen set —
        # at 10^10 URLs that sort-merge shuffles the entire seen set every
        # wave (ADVICE r1).  Split by provenance instead:
        #  (a) leftover already satisfies the pruned-frontier invariant
        #      w.r.t. seen-as-of-last-wave, so only THIS wave's delta can
        #      newly match it — anti-join against the wave-bounded delta;
        #  (b) new discoveries (links + pagination) are wave-bounded, so
        #      the seen set is semi-REDUCED to their key hits first (one
        #      streaming pass over seen, broadcast of wave-sized keys —
        #      the same pattern as dedup_against_seen) and the anti-join
        #      runs against the small hit set.
        # Results are identical to the full anti-join; the wave-side
        # bloom+anti-join remains the correctness gate either way.
        discoveries = child.unionByName(pagination)
        _mark("next_frontier_plan")
        # The prune does NOT wait for the seen/blob checkpoint thread: its
        # seen side is exactly prev-log ∪ this-wave-delta, and both are
        # already in hand as DataFrames (`seen` still binds the previous
        # read_log; delta keys recompute from the written wave parquet).
        # Re-reading the log here forced a join() that charged the whole
        # checkpoint wall (~1.2-1.5 s/wave at BOTH scaling levels, r5b
        # stage decomposition) to this stage; the thread now runs
        # underneath the entire frontier build + write below, and the log
        # re-read (flat base+deltas scan, bounded lineage) plus the pick-up
        # of the updated blobs happen after that write.
        #
        # Pipelined tail: wave k's frontier writer is about to be STARTED
        # on a thread and joined only here, one wave later — it runs under
        # the whole of wave k+1's fetch stage.  For that to stay safe and
        # bounded, the frontier plan must be anchored on THIS wave's
        # durable artifacts, never on a previous wave's in-memory plan:
        #  - the last writer is joined now (it had the entire fetch stage
        #    to finish, so this is a no-op in steady state);
        #  - delta keys recompute from the written wave parquet
        #    (extraction passes the canonical url through 1:1, so
        #    xxhash64(url) == the frontier's url_hash; in the
        #    astronomically-rare hash-collision case a key can be missing
        #    here, and the next wave's exact dedup gate — not this prune,
        #    which is an optimization — drops the row);
        #  - the unbudgeted leftover is an empty LITERAL (take_wave's
        #    frontier.limit(0) would chain the previous wave's plan into
        #    this one, growing the logical tree every wave);
        #  - the budgeted leftover rebinds onto the read-back of the files
        #    the last writer just published (value-identical: same rows,
        #    same dedup, same anti-join keys).
        if f_writer is not None:
            f_writer.join()
            t_ms["frontier_write_bg"] = f_writer.ms
        delta_keys = wave_ex.select(F.xxhash64("url").alias("url_hash"))
        if not leftover_vs_full:
            if wave_budget is None:
                leftover = _empty_frame(spark, frontier.schema)
            elif catalog.exists("frontier"):
                # the taken-wave keys are RECOMPUTED from the read-back
                # (deterministic: after dedup the (priority, depth,
                # url_hash) order is strict, so the top-K set is the one
                # take_wave took) — referencing `wave` here would chain
                # the previous wave's plan into this one and the logical
                # tree would grow ~100 KB per wave (measured)
                _d = dedup_within(catalog.read(spark, "frontier"))
                _taken = (
                    _d.orderBy(*[F.col(c).asc() for c in ORDER_COLS])
                    .limit(wave_budget)
                    .select("url_hash")
                )
                leftover = _d.join(_taken, "url_hash", "left_anti")
        if leftover_vs_full:
            # one-off: imported-history frontier may overlap prior seen.
            # `seen` (prev log) includes the imported base; this wave's
            # delta ⊆ the wave, which dedup_within/take_wave made
            # url_hash-disjoint from leftover, so prev-log pruning is
            # value-identical to new-log pruning.
            leftover_p = leftover.join(
                seen.select("url_hash"), "url_hash", "left_anti"
            )
            leftover_vs_full = False
        else:
            leftover_p = leftover.join(
                F.broadcast(delta_keys) if bounded_wave else delta_keys,
                "url_hash", "left_anti",
            )
        seen_keys = seen.select("url_hash").unionByName(delta_keys)
        disc_keys = discoveries.select("url_hash")
        hits = seen_keys.join(
            F.broadcast(disc_keys) if bounded_wave else disc_keys,
            "url_hash", "left_semi",
        )
        disc_p = discoveries.join(
            F.broadcast(hits) if bounded_wave else hits,
            "url_hash", "left_anti",
        )
        nxt = leftover_p.unionByName(disc_p)

        _mark("next_frontier_prune_plan")

        # ---- pipelined frontier write ------------------------------------
        # The write (and with it the whole frontier COMPUTE: link explode,
        # pagination expansion, prune joins, parquet encode) runs on a
        # thread that the loop only joins one wave later — i.e. underneath
        # the next wave's fetch/extract/write, the dominant stage.  The
        # next wave plans against the persisted `nxt` directly; its first
        # action races the writer for the cached partitions, and whichever
        # computes a block first feeds the other.  Torn interleavings of
        # the concurrent catalog publishes are exactly what resume's
        # orphan pruning (_resume_point) makes safe.
        nxt = nxt.persist()
        f_writer = _Background(
            catalog.write, nxt, "frontier", meta={"wave": wave_no + 1}
        )

        # frontier-size UPPER bound for the next wave's broadcast-safety
        # decision (the manifest count is still in flight): raw link
        # mentions + deduped pagination mass.  An unbudgeted wave leaves
        # no leftover; a budgeted run's leftover descends from the initial
        # frontier, whose size is unknown, so budgeted runs carry no bound.
        frontier_ub = (
            hit["n_links"] + hit["n_pag"] if wave_budget is None else None
        )
        frontier = nxt
        # the seen log (and standing blobs) must be current before the NEXT
        # wave's dedup gate / first-crossing blob build read them
        blobs = seen_job.join()
        seen = catalog.read_log(spark, "seen")
        _mark("next_frontier")
        # lineage is an append-log too: ONE row per wave (O(delta), not a
        # growing rewrite), written by pyarrow — no Spark job — once t_ms
        # is complete
        row = {
            "wave": wave_no,
            "frontier_size": n_wave,
            "robots_blocked": n_wave - n_allowed,
            "dedup_dropped": n_allowed - n_fresh,
            "attempted": n_fresh,
            "fetched": hit["n"],
            "missed": n_fresh - hit["n"],
            "n_hosts": sched["n_hosts"],
            "makespan_ms": sched["makespan_ms"],
            "t_ms": t_ms,
        }
        catalog.write(
            pa.Table.from_pylist([row], schema=_LINEAGE_SCHEMA),
            "lineage", meta={"wave": wave_no, "kind": "delta"},
        )
        if _prev_nxt is not None:
            _prev_nxt.unpersist()
        _prev_nxt = nxt
        scheduled.unpersist()
        wave.unpersist()
        wave_no += 1
        if n_wave == 0:
            # degenerate trailing wave (nonzero upper bound over an
            # exhausted frontier): a wave takes at least one row of a
            # nonempty frontier (wave_budget >= 1), so the frontier was
            # empty, its published deltas are empty, and so is the
            # frontier being written
            break

    # land the last wave's in-flight frontier writer — the catalog must be
    # complete, and its errors must surface, before the result is handed
    # back
    if f_writer is not None:
        f_writer.join()
    if _prev_nxt is not None:
        _prev_nxt.unpersist()

    extracted_all = (
        catalog.read_union(spark, "extracted")
        if catalog.exists("extracted")
        else _empty_frame(spark, CRAWL_EXTRACT_SCHEMA)
    )
    return CrawlResult(
        extracted=extracted_all, seen=seen,
        lineage=_read_lineage(catalog), waves=wave_no,
    )


def resume_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    catalog: Catalog,
    **kw,
) -> CrawlResult:
    """Resume a killed crawl from its last published wave checkpoint.

    The catalog's atomic manifest publish means a crash mid-wave leaves the
    previous wave's snapshots authoritative; we restart from the latest
    COMPLETE wave, replaying nothing that was fully published.

    A wave k is complete iff its extracted, seen and lineage deltas AND the
    wave-(k+1) frontier snapshot all landed — each is a separate manifest
    commit (some on overlapped threads), so a kill can land between them.
    Any snapshot from a torn wave is an orphan: replaying that wave after
    resume would re-publish the same rows and the append-log readers would
    double-count them.  ``_resume_point`` walks the manifests (driver-side,
    no Spark job) for the latest complete wave; everything at or after it
    is pruned before the replay starts.

    The replay reads its seen set from the catalog's log and returns the
    catalog's lineage rows, like any crawl; only the restart wave and its
    frontier are handed in.  A recrawl invalidation is applied by the run
    that started the catalog (its seen base or compact snapshot holds it),
    so a resume from a frontier drops ``recrawl``: applied again, it would
    delete the keys the crawl has since re-fetched."""
    _check_wave_budget(kw.get("wave_budget"))
    start_wave = _resume_point(catalog)
    for t in ("extracted", "seen", "lineage", "blobs"):
        catalog.prune_waves(t, start_wave)
    # frontier snapshots with meta wave > start_wave are torn-wave orphans
    # too (the resume input is the one WITH meta wave == start_wave)
    catalog.prune_waves("frontier", start_wave + 1)
    if not catalog.exists("frontier"):
        # nothing published yet, or a crash during wave 0 before its first
        # frontier landed (whose delta orphans the prune above removed):
        # restart as a fresh run
        return run_crawl(spark, pages, seeds, robots, catalog, **kw)
    f_snap = catalog.latest("frontier")
    if int(f_snap.meta.get("wave", 0)) != start_wave:
        # degenerate catalog (e.g. stale pre-compaction frontier snapshots
        # only): restart from whatever frontier actually survives and
        # re-prune the delta logs to that point so the replay cannot
        # double-publish
        start_wave = int(f_snap.meta.get("wave", 0))
        for t in ("extracted", "seen", "lineage", "blobs"):
            catalog.prune_waves(t, start_wave)
    kw.pop("recrawl", None)
    return run_crawl(
        spark, pages, seeds, robots, catalog, start_wave=start_wave,
        frontier=catalog.read(spark, "frontier"), **kw,
    )


def _resume_point(catalog: Catalog) -> int:
    """Latest wave the crawl can deterministically restart FROM.

    Walks down from the newest published frontier snapshot until every
    earlier wave's delta set (extracted + seen + lineage) is complete.
    Publishes happen in wave order, so the walk terminates within the
    1-2 torn waves a single crash can leave; blobs are excluded from the
    completeness test because they are only written once the seen set
    crosses the bloom gate.  Extra blob bits are harmless (the exact-seen
    backstop corrects bloom false positives); missing ones are not, so
    ``run_crawl`` rebuilds a restored filter whose meta ``seen_wave`` is
    older than the wave before the resume point."""

    def _delta_waves(name: str) -> set[int]:
        return {
            int(s.meta["wave"])
            for s in catalog.snapshots(name)
            if "wave" in s.meta and s.meta.get("kind") != "base"
        }

    frontier_waves = {
        int(s.meta.get("wave", 0)) for s in catalog.snapshots("frontier")
    }
    complete = (
        _delta_waves("extracted")
        & _delta_waves("seen")
        & _delta_waves("lineage")
    )
    # the crawl's first wave: 0, unless a seen base/compact marker (written
    # with wave = first - 1 by imported-history and recrawl-invalidation
    # runs) raises the floor — waves below it belong to a compacted past
    first_wave = max(
        (
            int(s.meta["wave"]) + 1
            for s in catalog.snapshots("seen")
            if s.meta.get("kind") in ("base", "compact") and "wave" in s.meta
        ),
        default=0,
    )
    start = max(frontier_waves, default=0)
    while start > first_wave and (start - 1) not in complete:
        start -= 1
    # the frontier snapshot feeding `start` must itself exist; if the walk
    # landed on a wave whose input frontier never published (possible only
    # when start == the run's first wave), the caller falls back to a
    # fresh run after pruning
    while start > first_wave and start not in frontier_waves:
        start -= 1
    return start


def _site_col(host: Column) -> Column:
    """``extract.site_of_host`` as a Column: the first of ``SITES`` the
    lowercased host contains, else "unknown"."""
    c = F.lower(host)
    return F.coalesce(
        *[F.when(c.contains(s), F.lit(s)) for s in SITES], F.lit("unknown")
    )
