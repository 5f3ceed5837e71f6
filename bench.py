"""Benchmark harness — prints ONE JSON line with the round's numbers.

Components:
1. ``extract_throughput`` — the headline north metric: pages fetched +
   extracted per second.  A deterministic fasel-detail pages table (written
   once to parquet — the offline "fetch" universe) is read back, URL-keyed
   (canonicalize + xxhash64 + host/salt, all JVM columns), pushed through the
   Arrow-batched extraction UDF, and the cleaned record fields are assembled
   as pure columns.  Pages/sec = n_pages / wall.
2. ``crawl_e2e`` — the full engine (frontier waves, robots, bloom dedup,
   politeness schedule, checkpointing) on the synthetic-site fixture.
3. Per-query wall times for the headline ``__spark_entry__`` queries at
   ``$SPARK_GRAFT_SF_DIR``.

Modes:
    python bench.py                  # one JSON line (driver contract)
    python bench.py --scaling        # extract job at local[N/4] and local[N]:
                                     # paired-median efficiency (sandbox
                                     # evidence for the north_rule's
                                     # two-cluster-size criterion)
    python bench.py --crawl-scale    # full-engine site crawl at N_PAGES
    python bench.py --crawl-scaling  # the SAME two-level paired protocol,
                                     # but over the WHOLE crawl loop
                                     # (frontier/robots/dedup/politeness/
                                     # fetch-join/extract/checkpoint), not
                                     # just the extract stage
    python bench.py --training-scale # corpus operators at ≥1M docs

The --crawl-scaling lane additionally runs a SPARK-SHAPED no-engine
control per trial (``--spark-ctl-once``: scan the site parquet → hash
shuffle → parquet write, zero engine code) and a per-stage paired
efficiency table from the lineage's t_ms marks — together they either
attribute a sub-0.8 whole-loop ratio to the host's scale-up ceiling or
localize it to a fixable stage (VERDICT r4 #1/#2).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_BENCH_PAGES (default 1000000),
     SPARK_GRAFT_SCALE_LEVELS (e.g. "16,4"), SPARK_GRAFT_SCALE_TRIALS,
     SPARK_GRAFT_SCALE_RUNS (min-of-N per level, extract lane),
     SPARK_GRAFT_SCALE_CONTROL=0 to skip the no-engine control,
     SPARK_GRAFT_SCALE_SPARK_CONTROL=0 to skip the Spark-shaped control,
     SPARK_GRAFT_SPARK_CTL_REPS (timed repetitions inside it, default 3).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "1000000"))


def _spark(cpus: int):
    from no_fasel_scrapers_spark.session import get_spark

    return get_spark(
        app_name=f"bench-local{cpus}",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(max(cpus, 8)),
            # heap scales with parallelism (1g/core, floor 8g) — a real N
            # vs 4N cluster scales total memory with executor count, so the
            # big level must not run memory-starved relative to the small
            "spark.driver.memory": f"{max(cpus, 8)}g",
            # The bench pages table compresses ~40× (templated HTML), so
            # default 128m splits would pack the whole table into a handful
            # of tasks and starve the executor slots; split small so the
            # *decompressed* work per task stays balanced.  256k + low open
            # cost ≈ one task per generated file (256) — ~8 tasks/core at
            # local[32] vs ~2/core with the old 1m packing, whose tail
            # imbalance hit the BIG level disproportionately and showed up
            # as a fake scaling loss (round-1 8→32 raw efficiency 0.726).
            "spark.sql.files.maxPartitionBytes": "262144",
            "spark.sql.files.openCostInBytes": "65536",
        },
    )


def _crawl_spark(cpus: int):
    """Session for the full-engine site crawl (warehouse outside the repo:
    saveAsTable in bucketed mode writes under spark.sql.warehouse.dir).

    Shuffle partitions and heap scale with the site size, the way a real
    cluster sizes them to the data: at 16 fixed partitions a 12M-page
    wave put ~750k rows in each SHUFFLE_HASH build and the hash-relation
    allocation (256 MB+) failed under concurrent-task memory pressure.
    ~250k rows per partition keeps builds comfortably inside per-task
    execution memory at every level; AQE coalesces the small waves'
    surplus partitions, so small sites are unaffected."""
    os.environ.setdefault(
        "SPARK_GRAFT_WAREHOUSE",
        os.path.join(tempfile.gettempdir(), "nfs_bench_warehouse"),
    )
    from no_fasel_scrapers_spark.session import get_spark

    parts = max(cpus, 8, N_PAGES // 250_000)
    heap_gb = max(cpus, 8, N_PAGES // 1_000_000)
    return get_spark(
        app_name=f"bench-crawl-local{cpus}",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(parts),
            "spark.driver.memory": f"{heap_gb}g",
            "spark.sql.warehouse.dir": os.environ["SPARK_GRAFT_WAREHOUSE"],
        },
    )


def _materialize(df) -> None:
    """Force full execution without driver collect (noop sink)."""
    df.write.mode("overwrite").format("noop").save()


def prepare_pages(spark, path: str, n: int) -> None:
    """Write the bench pages table once (the offline fetch universe)."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    from no_fasel_scrapers_spark.sources.pagegen import gen_pages

    gen_pages(spark, n, partitions=256).write.mode("overwrite").parquet(path)


def prepare_site(spark) -> str:
    """Write the generated crawlable site once (N_PAGES detail items +
    N/16 listing pages + root, one host); return its parquet path."""
    site_path = os.path.join(
        tempfile.gettempdir(), f"nfs_bench_site_{N_PAGES}"
    )
    if not os.path.exists(os.path.join(site_path, "_SUCCESS")):
        from no_fasel_scrapers_spark.sources.pagegen import gen_site_pages

        gen_site_pages(spark, N_PAGES, partitions=256).write.mode(
            "overwrite"
        ).parquet(site_path)
    return site_path


def extract_job(spark, pages_path: str):
    """read → URL keys (JVM) → Arrow extract → columnar record assembly."""
    from no_fasel_scrapers_spark.functions.canonical import with_url_keys
    from no_fasel_scrapers_spark.functions.cleanups import (
        clean_iframe_source,
        py_capitalize,
    )
    from no_fasel_scrapers_spark.functions.extract import (
        EXTRACT_SCHEMA,
        extract_map_in_pandas,
    )

    pages = spark.read.parquet(pages_path)
    keyed = with_url_keys(pages).select("url", "url_hash", "host_salt", "html")
    extracted = (
        keyed.withColumn("role", F.lit("detail"))
        .select("url", "role", "html")
        .mapInPandas(extract_map_in_pandas, schema=EXTRACT_SCHEMA)
    )
    records = extracted.select(
        "url",
        F.col("fields.item_id").alias("item_id"),
        F.coalesce(F.col("fields.fmt"), F.lit("N/A")).alias("fmt"),
        clean_iframe_source(F.col("fields.iframe_src")).alias("source"),
        F.transform(F.col("fields.genres"), py_capitalize).alias("genres"),
        F.length("text").alias("text_len"),
    )
    return records


def bench_extract(spark, pages_path: str, n: int) -> float:
    t0 = time.time()
    _materialize(extract_job(spark, pages_path))
    return time.time() - t0


def bench_crawl(spark, runs: int = 2) -> tuple[float, int]:
    """Warm-up + min-of-``runs`` full crawl over the synthetic-site fixture.

    The fixture DataFrames (the offline fetch universe + seeds + robots)
    are built ONCE outside the timed region and the pages table is
    landed/cached — at cluster scale the corpus is parquet on disk, not a
    driver-side createDataFrame re-evaluated per wave, so re-paying its
    build inside every measured run (round 2's protocol) measured the
    harness, not the engine."""
    from no_fasel_scrapers_spark.plans.crawl import run_crawl
    from no_fasel_scrapers_spark.sources.catalog import Catalog
    from no_fasel_scrapers_spark.sources.fixture import Fixture, FixtureConfig

    fx = Fixture(FixtureConfig())
    pages = fx.pages_df(spark).persist()
    pages.count()  # land the fetch universe once
    seeds, robots = fx.seeds_df(spark), fx.robots_df(spark)

    def once() -> tuple[float, int]:
        tmp = tempfile.mkdtemp(prefix="nfs_bench_crawl_")
        try:
            t0 = time.time()
            res = run_crawl(spark, pages, seeds, robots, Catalog(tmp))
            n = res.extracted.count()
            return time.time() - t0, n
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    once()  # warm-up: the wave loop's cold paths (codegen, IO, workers)
    best = min(once() for _ in range(runs))
    pages.unpersist()
    return best


def crawl_site_run(
    spark, pages, cpus: int
) -> tuple[float, int, int, dict]:
    """One timed full-engine crawl over the generated site: seed →
    pagination-extent discovery → frontier waves → robots → bloom dedup →
    salted politeness → fetch join → extraction → per-wave checkpointing.
    Returns (wall_sec, pages_extracted, waves, stage_totals_ms) — the
    stage totals are the lineage's driver-side ``t_ms`` marks summed over
    waves, so paired scaling runs can decompose WHICH stage's per-core
    throughput collapses between levels (VERDICT r4 #2)."""
    from no_fasel_scrapers_spark.plans.crawl import run_crawl
    from no_fasel_scrapers_spark.sources.catalog import Catalog
    from no_fasel_scrapers_spark.sources.pagegen import site_seed_rows

    seeds = spark.createDataFrame(
        [tuple(s.values()) for s in site_seed_rows()],
        "url string, site string, category string, priority int, "
        "depth int, role string, url_template string",
    )
    robots = spark.createDataFrame(
        [("fasel.test", [], 0)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms int",
    )
    tmp = tempfile.mkdtemp(prefix="nfs_bench_site_crawl_")
    try:
        t0 = time.time()
        res = run_crawl(
            spark, pages, seeds, robots, Catalog(tmp),
            n_salts=max(cpus * 2, 8),
            expected_urls=max(2 * N_PAGES, 2_000_000),
            cache_pages=False,
            # the generated site declares N/16 listing pages in one extent;
            # keep the anti-absurd clamp above that or the crawl silently
            # truncates (at 3M pages the 100k default cost 47% of the site)
            max_pagination=max(N_PAGES // 8, 100_000),
        )
        n_extracted = res.extracted.count()
        wall = time.time() - t0
        stage_totals: dict = {}
        for l in res.lineage:
            for k, v in l.get("t_ms", {}).items():
                stage_totals[k] = stage_totals.get(k, 0) + v
        return wall, n_extracted, res.waves, stage_totals
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _paired_trials(once_flag: str, hi_lo: list[int], trials: int,
                   control: bool, spark_control: bool = False) -> list[dict]:
    """Interleaved paired scaling trials — the two-cluster-size estimator.

    Each trial measures (hi, lo[, no-engine control]) back-to-back under
    the same box state: one subprocess per level, pinned to a CPU set via
    taskset so the small level behaves like a genuinely smaller machine
    (unpinned, the small JVM's GC/Arrow/shuffle helper threads overflow
    onto idle cores and inflate the small-cluster baseline).  Efficiency
    is computed WITHIN each triple — eff_i = lo_sec_i / (hi_sec_i·hi/lo),
    attr_i = eff_i / ctl_eff_i — and callers headline the MEDIAN over
    trials with every pair reported.  A best-of recombined across trials
    (round 2's estimator, ADVICE r2 #1) could pair a lucky hi with a
    lucky lo from different box states and bias the ratio upward.

    The control (scripts/scaling_control.py) runs the same extraction
    loop as N pure pinned Python processes — no JVM/Arrow/parquet/
    shuffle — so raw engine efficiency and the box's own ceiling are
    sampled under the SAME host conditions.  On a single shared box the
    big level pays all-core turbo drop + shared-bandwidth contention
    that an N- vs 4N-executor cluster (constant per-node conditions)
    does not; raw/ceiling is the engine-attributable number that
    transfers.  Disable with SPARK_GRAFT_SCALE_CONTROL=0.

    Non-"sec" keys of the hi level's JSON (e.g. the crawl lane's pages/
    waves) are copied into the pair record as job metadata.

    With ``spark_control=True`` each trial also runs the SPARK-SHAPED
    no-engine control (``--spark-ctl-once``: scan→hash-shuffle→parquet-
    write of the same site, zero engine code) at both pinned levels and
    records ``spark_ctl_eff`` + ``engine_vs_spark_ctl`` — the VERDICT r4
    decision rule: engine eff ÷ spark_ctl_eff ≥ 0.8 means the whole-loop
    loss is the host's Spark-visible scale-up ceiling, not the engine.
    """
    import subprocess

    def _run_pinned(cmd_tail: list[str], cpus: int, env_extra: dict) -> dict:
        cmd = [sys.executable] + cmd_tail
        if shutil.which("taskset"):
            cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
        out = subprocess.run(
            cmd, capture_output=True, text=True,
            env=dict(os.environ, **env_extra), check=True,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])

    hi, lo = hi_lo
    pairs: list[dict] = []
    for _ in range(trials):
        recs: dict[int, dict] = {}
        for cpus in hi_lo:
            recs[cpus] = _run_pinned(
                [os.path.abspath(__file__), once_flag, str(cpus)], cpus,
                {"SPARK_GRAFT_BENCH_PAGES": str(N_PAGES)},
            )
        stages = {c: recs[c].pop("stages", None) for c in hi_lo}
        pair = {
            "hi_sec": round(recs[hi]["sec"], 2),
            "lo_sec": round(recs[lo]["sec"], 2),
            "eff": round(
                recs[lo]["sec"] / (recs[hi]["sec"] * (hi / lo)), 3
            ),
        }
        pair.update(
            (k, v) for k, v in recs[hi].items() if k != "sec"
        )
        if stages[hi] and stages[lo]:
            # per-stage paired efficiency from the lineage's driver-side
            # stage marks: which stage's per-core throughput collapses
            pair["stage_eff"] = {
                k: round(stages[lo][k] / (stages[hi][k] * (hi / lo)), 3)
                for k in stages[hi]
                if stages[hi].get(k) and stages[lo].get(k)
            }
            pair["stages_ms"] = {"hi": stages[hi], "lo": stages[lo]}
        if spark_control:
            sctl = {
                cpus: _run_pinned(
                    [os.path.abspath(__file__), "--spark-ctl-once",
                     str(cpus)], cpus,
                    {"SPARK_GRAFT_BENCH_PAGES": str(N_PAGES)},
                )["sec"]
                for cpus in hi_lo
            }
            pair["spark_ctl_hi_sec"] = sctl[hi]
            pair["spark_ctl_lo_sec"] = sctl[lo]
            pair["spark_ctl_eff"] = round(
                sctl[lo] / (sctl[hi] * (hi / lo)), 3
            )
            pair["engine_vs_spark_ctl"] = round(
                pair["eff"] / pair["spark_ctl_eff"], 3
            )
        if control:
            ctl_cmd = [
                sys.executable,
                os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "scripts", "scaling_control.py"),
            ] + [str(c) for c in hi_lo]
            env = dict(os.environ, SPARK_GRAFT_SCALE_TRIALS="1")
            out = subprocess.run(
                ctl_cmd, capture_output=True, text=True, env=env,
                check=True,
            )
            ctl = json.loads(out.stdout.strip().splitlines()[-1])
            thr = {int(k): v["total_pages_per_sec"]
                   for k, v in ctl["levels"].items()}
            pair["ctl_eff"] = round(thr[hi] / (thr[lo] * (hi / lo)), 3)
            # > 1.0: the engine scaled better than the no-engine
            # hardware-ceiling control under the SAME box state
            pair["engine_attributable"] = round(
                pair["eff"] / pair["ctl_eff"], 3
            )
        pairs.append(pair)
        print(json.dumps({"trial": pair}), file=sys.stderr)
    return pairs


def _scaling_payload(metric: str, pairs: list[dict], hi_lo: list[int],
                     n_items: int, control: bool, extra: dict) -> dict:
    """One-line JSON for a paired scaling run (median over trials)."""
    import statistics

    hi, lo = hi_lo
    effs = [p["eff"] for p in pairs]
    med_hi = statistics.median(p["hi_sec"] for p in pairs)
    med_lo = statistics.median(p["lo_sec"] for p in pairs)
    payload = {
        "metric": metric,
        "value": round(statistics.median(effs), 3),
        "unit": "ratio",
        "estimator": "median of per-trial paired efficiencies",
        "spread": [min(effs), max(effs)],
        "pinned": bool(shutil.which("taskset")),
        "trials": len(pairs),
        "pairs": pairs,
        "levels": {
            f"local[{k}]": {
                "sec": round(s, 2),
                "pages_per_sec": round(n_items / s, 1),
            }
            for k, s in ((hi, med_hi), (lo, med_lo))
        },
        **extra,
    }
    if control:
        attrs = [p["engine_attributable"] for p in pairs]
        payload["hardware_ceiling_eff_median"] = round(
            statistics.median(p["ctl_eff"] for p in pairs), 3
        )
        payload["engine_attributable"] = round(
            statistics.median(attrs), 3
        )
        payload["engine_attributable_spread"] = [min(attrs), max(attrs)]
    if pairs and "spark_ctl_eff" in pairs[0]:
        svs = [p["engine_vs_spark_ctl"] for p in pairs]
        payload["spark_ctl_eff_median"] = round(
            statistics.median(p["spark_ctl_eff"] for p in pairs), 3
        )
        payload["engine_vs_spark_ctl"] = round(statistics.median(svs), 3)
        payload["engine_vs_spark_ctl_spread"] = [min(svs), max(svs)]
    if pairs and "stage_eff" in pairs[0]:
        keys = set().union(*(p["stage_eff"].keys() for p in pairs))
        payload["stage_eff_median"] = {
            k: round(
                statistics.median(
                    p["stage_eff"][k] for p in pairs if k in p["stage_eff"]
                ), 3,
            )
            for k in sorted(keys)
        }
    return payload


def _emit(payload: dict) -> None:
    """Print the lane's one-line JSON; with ``--out FILE`` also write it
    to FILE so scaling evidence lands in a committed machine-readable
    artifact (VERDICT r3 #7: SCALING_r4.json) instead of only BENCH.md
    prose."""
    line = json.dumps(payload)
    print(line)
    if "--out" in sys.argv:
        path = sys.argv[sys.argv.index("--out") + 1]
        with open(path, "w") as f:
            f.write(line + "\n")


def _scale_levels() -> list[int]:
    """[hi, lo] — normalized so 'SPARK_GRAFT_SCALE_LEVELS=4,16' and
    '16,4' mean the same pair (unnormalized, a swapped pair would
    silently report a ~(hi/lo)²-inflated efficiency; the control script
    already normalizes with min/max)."""
    levels = os.environ.get("SPARK_GRAFT_SCALE_LEVELS", "")
    if levels:
        try:
            vals = [int(x) for x in levels.split(",")]
        except ValueError:
            vals = []
        if len(vals) != 2 or vals[0] == vals[1] or min(vals) < 1:
            raise SystemExit(
                f"SPARK_GRAFT_SCALE_LEVELS needs two distinct positive "
                f"levels, e.g. '16,4': {levels!r}"
            )
        return [max(vals), min(vals)]
    return [CPUS, max(CPUS // 4, 1)]


def _control_reading() -> dict:
    """In-protocol no-engine control for the DEFAULT lane (VERDICT r3 #1).

    Runs scripts/scaling_control.py at the bench's own CPU count — the
    same pure pinned-Python extraction loop the scaling lane uses as its
    hardware ceiling — and returns its throughput, sampled minutes from
    the headline measurement.  Recorded in the default lane's JSON line so
    a degraded box is self-evident in the artifact: compare
    ``control_pages_per_sec`` against the calm-box reference in BASELINE.md
    — if the control is down 25%, the engine headline being down 25% is
    the box, not a regression.  Disable with SPARK_GRAFT_SCALE_CONTROL=0.
    """
    import subprocess

    if os.environ.get("SPARK_GRAFT_SCALE_CONTROL", "1") == "0":
        return {}
    cmd = [
        sys.executable,
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "scripts", "scaling_control.py"),
        str(CPUS),
    ]
    env = dict(os.environ, SPARK_GRAFT_SCALE_TRIALS="1")
    try:
        out = subprocess.run(
            cmd, capture_output=True, text=True, env=env, check=True,
            timeout=900,
        )
        lvl = json.loads(out.stdout.strip().splitlines()[-1])
        lvl = lvl["levels"][str(CPUS)]
        return {
            "control_pages_per_sec": lvl["total_pages_per_sec"],
            "control_pages_per_sec_per_core": lvl["pages_per_sec_per_core"],
        }
    except Exception as e:  # the control is evidence, never a gate
        return {"control_error": str(e)[:200]}


def run_queries(spark) -> dict[str, float]:
    """Per-query wall time: warm-up pass + min-of-2 measured runs.

    Round 2 timed each query as a single cold run and recorded 2-7×
    regressions on queries whose warm plans are ≤1.5s (first-touch parquet
    footer reads + codegen + box noise); warm min-of-2 is the same
    estimator the extract path has always used."""
    import __spark_entry__ as E

    out = {}
    for name, q in E.REGISTRY.items():
        if not q.bench:
            continue
        fn = q.build

        def once() -> float:
            t0 = time.time()
            _materialize(fn(spark, SF_DIR))
            return time.time() - t0

        once()  # warm-up
        out[name] = round(min(once() for _ in range(2)), 3)
    return out


def main() -> None:
    pages_path = os.path.join(
        tempfile.gettempdir(), f"nfs_bench_pages_{N_PAGES}"
    )

    if "--extract-once" in sys.argv:
        # Internal: one measured extract run at a given parallelism
        # (spawned by --scaling inside a taskset CPU set).
        cpus = int(sys.argv[sys.argv.index("--extract-once") + 1])
        spark = _spark(cpus)
        bench_extract(spark, pages_path, N_PAGES)  # warmup (JIT + workers)
        # min-of-3 (was 2): this shared-KVM host shows transient 30-40%
        # slowdowns lasting under a minute (round-3 paired trials: one
        # hi-level 26.9s against four at 19-22s); a third sample gives
        # each level one more chance to observe the box's baseline.
        # Symmetric across levels, so the hi/lo ratio stays unbiased.
        runs = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "3"))
        secs = min(
            bench_extract(spark, pages_path, N_PAGES) for _ in range(runs)
        )
        spark.stop()
        print(json.dumps({"sec": secs}))
        return

    if "--crawl-once" in sys.argv:
        # Internal: one measured full-engine site crawl at a given
        # parallelism (spawned by --crawl-scaling inside a taskset CPU
        # set).  The site parquet must already exist (the parent
        # pre-generates it outside the measured region).
        cpus = int(sys.argv[sys.argv.index("--crawl-once") + 1])
        from no_fasel_scrapers_spark.plans.crawl import run_crawl
        from no_fasel_scrapers_spark.sources.catalog import Catalog
        from no_fasel_scrapers_spark.sources.fixture import (
            Fixture,
            FixtureConfig,
        )

        spark = _crawl_spark(cpus)
        # Warm the crawl loop's cold paths (codegen, python workers, the
        # parquet writer) on the SMALL synthetic-site fixture first: the
        # site crawl runs once per level per trial, and a fresh JVM's
        # fixed JIT cost would land on a 4× shorter wall at the big
        # level, biasing the ratio downward for reasons that are not
        # the engine's scaling.
        fx = Fixture(FixtureConfig())
        tmp = tempfile.mkdtemp(prefix="nfs_crawl_warm_")
        try:
            run_crawl(
                spark, fx.pages_df(spark), fx.seeds_df(spark),
                fx.robots_df(spark), Catalog(tmp),
            ).extracted.count()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        site_path = prepare_site(spark)  # no-op: parent pre-generated
        pages = spark.read.parquet(site_path)
        wall, n_extracted, waves, stages = crawl_site_run(spark, pages, cpus)
        spark.stop()
        print(json.dumps({
            "sec": round(wall, 2), "pages": n_extracted, "waves": waves,
            "stages": stages,
        }))
        return

    if "--spark-ctl-once" in sys.argv:
        # Internal: the SPARK-SHAPED no-engine control (VERDICT r4 #1).
        # The pure-Python control (scripts/scaling_control.py) samples the
        # box's compute ceiling but exercises neither the JVM nor the
        # memory-bandwidth-bound shuffle/write path — so it cannot see a
        # host scale-UP bandwidth ceiling.  This control is Spark with
        # ZERO engine code: scan the same generated-site parquet, shuffle
        # the full byte volume on a hash key (the fetch join's exchange
        # shape), write it back out as parquet — the scan→shuffle→write
        # skeleton of one crawl wave with no frontier, dedup, politeness
        # or Python stage.  If ITS hi/lo efficiency matches the whole
        # crawl loop's, the loss is the host, not the engine.
        cpus = int(sys.argv[sys.argv.index("--spark-ctl-once") + 1])
        spark = _crawl_spark(cpus)
        site_path = prepare_site(spark)  # no-op: parent pre-generated
        parts = max(cpus, 8, N_PAGES // 250_000)
        out_dir = os.path.join(
            tempfile.gettempdir(), f"nfs_spark_ctl_out_{os.getpid()}"
        )
        pages = spark.read.parquet(site_path)
        shuffled = pages.repartition(parts, F.xxhash64("url"))
        reps = int(os.environ.get("SPARK_GRAFT_SPARK_CTL_REPS", "3"))
        try:
            # warm-up: the same plan shape over a small slice (JIT, codecs,
            # committer init) — mirrors --crawl-once's fixture warm-up
            pages.limit(50_000).repartition(
                parts, F.xxhash64("url")
            ).write.mode("overwrite").parquet(out_dir)
            # repeat the full-volume pass so per-job fixed cost (driver
            # scheduling, AQE, committer) amortizes out of the ratio —
            # a single ~4s pass at the high level would otherwise carry
            # a visible fixed-cost share the engine's minutes-long runs
            # do not
            t0 = time.time()
            for _ in range(reps):
                shuffled.write.mode("overwrite").parquet(out_dir)
            sec = time.time() - t0
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
            spark.stop()
        print(json.dumps({"sec": round(sec, 2), "reps": reps}))
        return

    if "--crawl-scale" in sys.argv or "--crawl-scale-bucketed" in sys.argv:
        # Full engine (frontier waves, pagination discovery, robots, bloom
        # dedup, salted politeness, extraction, checkpointing) over the
        # generated crawlable site at N_PAGES detail items — the north
        # metric measured through the WHOLE crawl loop at real wave sizes
        # (one listing wave of N/16 pages, one detail wave of N pages),
        # not just the extract stage.
        bucketed = "--crawl-scale-bucketed" in sys.argv
        n_buckets = 64
        spark = _crawl_spark(CPUS)
        site_path = prepare_site(spark)
        ingest_sec = None
        if bucketed:
            # The 100 TB ingest pattern: land the corpus BUCKETED by
            # url_hash once, and every crawl/recrawl's fetch join reads
            # co-located buckets — the HTML side never shuffles again.
            # The bucketed write's shuffle is paid here, at ingest, and
            # reported separately.
            table = f"nfs_site_bucketed_{N_PAGES}"
            t0 = time.time()
            (
                spark.read.parquet(site_path)
                .withColumn("url_hash", F.xxhash64("url"))
                .write.mode("overwrite")
                .bucketBy(n_buckets, "url_hash")
                .sortBy("url_hash")
                .saveAsTable(table)
            )
            ingest_sec = round(time.time() - t0, 2)
            pages = spark.table(table)
        else:
            pages = spark.read.parquet(site_path)
        wall, n_extracted, waves, _stages = crawl_site_run(spark, pages, CPUS)
        out = {
            "metric": "crawl_pages_per_sec",
            "value": round(n_extracted / wall, 1),
            "unit": "pages/sec",
            "n_pages": n_extracted,
            "waves": waves,
            "sec": round(wall, 2),
            "cpus": CPUS,
        }
        if bucketed:
            out["bucketed"] = n_buckets
            out["ingest_sec"] = ingest_sec
        print(json.dumps(out))
        return

    if "--crawl-scaling" in sys.argv:
        # The north_rule's two-cluster-size criterion measured over the
        # WHOLE crawl engine (not just the extract stage): the same
        # generated-site crawl at two parallelism levels, paired-median
        # protocol, in-protocol no-engine control.  One measured site
        # crawl per level per trial (each run is minutes long and the
        # wave loop repeats its own code paths, so JIT amortizes in-run;
        # the fixture warm-up inside --crawl-once covers the cold start).
        hi_lo = _scale_levels()  # validate BEFORE the expensive site gen
        spark = _crawl_spark(CPUS)
        prepare_site(spark)
        spark.stop()

        trials = int(os.environ.get("SPARK_GRAFT_SCALE_TRIALS", "3"))
        control = os.environ.get("SPARK_GRAFT_SCALE_CONTROL", "1") != "0"
        spark_control = (
            os.environ.get("SPARK_GRAFT_SCALE_SPARK_CONTROL", "1") != "0"
        )
        pairs = _paired_trials(
            "--crawl-once", hi_lo, trials, control,
            spark_control=spark_control,
        )
        payload = _scaling_payload(
            "crawl_scaling_efficiency", pairs, hi_lo,
            n_items=pairs[0].get("pages", N_PAGES), control=control,
            extra={"n_pages": N_PAGES},
        )
        _emit(payload)
        return

    if "--training-scale" in sys.argv:
        # Corpus-curation operators at ≥1M-doc scale: the dedup/decontam
        # scale claims get a measured docs/sec number the way the crawl
        # loop got one from --crawl-scale.  Input: deterministic JVM-only
        # documents table (sources/pagegen.gen_docs) with planted near-dup
        # pairs, written to parquet once and read back (the operators see
        # a real scan, with pushdown/pruning, not an in-memory range).
        from no_fasel_scrapers_spark.operators.corpus import (
            decontaminate,
            vocab_top_terms,
        )
        from no_fasel_scrapers_spark.operators.dedup import (
            exact_dedup,
            minhash_dedup,
            substring_dedup,
        )
        from no_fasel_scrapers_spark.operators.quality import (
            line_dedup,
            with_repetition_stats,
        )
        from no_fasel_scrapers_spark.operators.textstats import (
            with_text_stats,
        )
        from no_fasel_scrapers_spark.sources.pagegen import gen_docs

        n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "1000000"))
        spark = _spark(CPUS)
        docs_path = os.path.join(
            tempfile.gettempdir(), f"nfs_bench_docs_{n_docs}"
        )
        if not os.path.exists(os.path.join(docs_path, "_SUCCESS")):
            gen_docs(spark, n_docs, partitions=256).write.mode(
                "overwrite"
            ).parquet(docs_path)
        docs = spark.read.parquet(docs_path)
        # gen_docs texts are single-line and all-distinct, which would
        # make line_dedup a no-op removal over 1 line/doc; reshape to
        # ~8-word lines (~10 lines/doc) and plant shared boilerplate
        # (header everywhere + footer per id%7 class) so the measured
        # number covers the real fan-out, a populated removal set, and
        # actual removals.  Written to parquet ONCE, outside the timed
        # region — Spark is lazy, and reshaping inside the timed lambda
        # would charge a full-corpus regex pass to the operator.
        mldocs_path = os.path.join(
            tempfile.gettempdir(), f"nfs_bench_mldocs_{n_docs}"
        )
        if not os.path.exists(os.path.join(mldocs_path, "_SUCCESS")):
            docs.withColumn(
                "text",
                F.concat(
                    F.lit("follow us on social media\n"),
                    F.regexp_replace(
                        F.col("text"), r"((?:\S+ ){7}\S+) ", "$1\n"
                    ),
                    F.lit("\ncopyright footer "),
                    (F.col("doc_id") % 7).cast("string"),
                ),
            ).write.mode("overwrite").parquet(mldocs_path)
        mldocs = spark.read.parquet(mldocs_path)
        # a small in-corpus test set: every 997th doc → real contamination
        test = docs.filter(F.col("doc_id") % 997 == 0).select("doc_id", "text")
        ops = {
            "exact_dedup": lambda: exact_dedup(docs),
            "minhash_dedup": lambda: minhash_dedup(docs),
            "substring_dedup": lambda: substring_dedup(docs),
            "decontaminate": lambda: decontaminate(docs, test),
            "text_stats": lambda: with_text_stats(docs),
            "repetition_stats": lambda: with_repetition_stats(docs),
            "line_dedup": lambda: line_dedup(mldocs),
            "vocab_top_terms": lambda: vocab_top_terms(docs, k=100),
        }
        secs: dict[str, float] = {}
        for name, build in ops.items():
            def once() -> float:
                t0 = time.time()
                _materialize(build())
                return time.time() - t0

            once()  # warm-up
            secs[name] = round(min(once() for _ in range(2)), 3)
        print(json.dumps({
            "metric": "training_docs_per_sec",
            "value": round(n_docs / secs["minhash_dedup"], 1),
            "unit": "docs/sec",
            "n_docs": n_docs,
            "cpus": CPUS,
            "sec": secs,
            "docs_per_sec": {
                k: round(n_docs / v, 1) for k, v in secs.items()
            },
        }))
        spark.stop()
        return

    if "--scaling" in sys.argv:
        # Same extract job, same input, two parallelism levels (N and N/4
        # cores) — the sandbox stand-in for N vs 4N executors.  Protocol
        # (pinned CPU sets, interleaved trials, paired-median estimator,
        # in-protocol no-engine hardware control) documented on
        # _paired_trials.
        hi_lo = _scale_levels()  # validate BEFORE the 3M-page table gen
        spark = _spark(CPUS)
        prepare_pages(spark, pages_path, N_PAGES)
        spark.stop()

        trials = int(os.environ.get("SPARK_GRAFT_SCALE_TRIALS", "5"))
        control = os.environ.get("SPARK_GRAFT_SCALE_CONTROL", "1") != "0"
        pairs = _paired_trials("--extract-once", hi_lo, trials, control)
        payload = _scaling_payload(
            "scaling_efficiency", pairs, hi_lo, n_items=N_PAGES,
            control=control, extra={"n_pages": N_PAGES},
        )
        _emit(payload)
        return

    # No-engine control FIRST (before the JVM exists): the box-state
    # reading that contextualizes the headline (VERDICT r3 #1)
    control = _control_reading()

    spark = _spark(CPUS)
    prepare_pages(spark, pages_path, N_PAGES)

    bench_extract(spark, pages_path, N_PAGES)  # warmup: JIT + worker spawn
    # min of 3 measured runs (same rigor as the scaling lane's
    # --extract-once, SPARK_GRAFT_SCALE_RUNS): this shared-KVM host shows
    # transient 30-40% slowdowns lasting under a minute, and a min-of-2
    # single-day reading moved the recorded headline 25% in round 3
    runs = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "3"))
    extract_sec = min(
        bench_extract(spark, pages_path, N_PAGES) for _ in range(runs)
    )
    crawl_sec, crawl_pages = bench_crawl(spark)  # warm + min-of-2 inside
    queries = run_queries(spark)

    total = round(
        extract_sec + crawl_sec + sum(queries.values()), 3
    )
    queries["extract_pages"] = round(extract_sec, 3)
    queries["crawl_e2e_fixture"] = round(crawl_sec, 3)
    print(json.dumps({
        "metric": "end_to_end_sec",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
        "pages_per_sec": round(N_PAGES / extract_sec, 1),
        "extract_runs": runs,
        **control,
        "n_pages": N_PAGES,
        "crawl_fixture_pages": crawl_pages,
        "cpus": CPUS,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
