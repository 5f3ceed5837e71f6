"""Politeness-budget accuracy under host salting (SURVEY §7.3 hard-part 3,
VERDICT r4 #6).

A salted host fetches from S shards in parallel; each shard spaces its own
fetches by ``delay * S`` so the aggregate rate stays 1/delay.  The accuracy
question is what happens WITHIN a delay window: without a shard phase
offset, every populated shard fires at the same multiples of ``delay*S`` —
instantaneous bursts of up to S requests, an S× overshoot of the
per-window budget.  ``schedule_fetches`` phase-offsets each shard by its
salt index (``scheduled_ms = (fetch_seq*S + host_salt) * delay``), giving
every shard a disjoint residue class of the per-host delay grid: any
half-open window of width ``delay`` now contains at most ONE fetch at any
S, and shard imbalance can only under-use the budget (idle grid slots),
never overshoot it.

The skewed mix below (one mega-host ~64× the tail hosts) measures the
worst case per host; the numbers are cited in BENCH.md.
"""

import pytest
from pyspark.sql import functions as F

from no_fasel_scrapers_spark.operators.politeness import schedule_fetches

DELAY_MS = 100
MEGA_N = 4096          # mega-host URLs (others get ~64)
N_TAIL_HOSTS = 6


def _skewed_wave(spark, n_salts: int):
    """One mega-host + small tail hosts, salted by url hash like the
    frontier does (uneven shard fill is the point of the test), with
    each host's delay joined on as the robots gate joins it."""
    mega = spark.range(MEGA_N).select(
        F.lit("mega.test").alias("host"),
        F.col("id").alias("url_hash"),
        F.lit(0).cast("int").alias("priority"),
        F.lit(0).cast("int").alias("depth"),
    )
    tail = spark.range(MEGA_N // 64 * N_TAIL_HOSTS).select(
        F.concat(
            F.lit("t"), (F.col("id") % N_TAIL_HOSTS).cast("string"),
            F.lit(".test"),
        ).alias("host"),
        (F.col("id") + 1_000_000).alias("url_hash"),
        F.lit(0).cast("int").alias("priority"),
        F.lit(0).cast("int").alias("depth"),
    )
    wave = mega.unionByName(tail).withColumn(
        "host_salt",
        F.pmod(F.xxhash64("url_hash"), F.lit(n_salts)).cast("int"),
    )
    delays = spark.createDataFrame(
        [("mega.test", DELAY_MS)]
        + [(f"t{i}.test", DELAY_MS) for i in range(N_TAIL_HOSTS)],
        "host string, crawl_delay_ms int",
    )
    return wave.join(F.broadcast(delays), "host", "left")


def _budget_metrics(spark, n_salts: int) -> dict:
    """Per-host worst-case budget metrics for a given shard count:

    - ``burst_max``:   max fetches inside any half-open window of width
                       ``delay`` (exactly computable on the delay grid —
                       every scheduled_ms is a multiple of delay, so the
                       worst window is the worst single grid slot);
    - ``makespan_ratio``: makespan / ideal ((n-1)*delay) — >1 means shard
                       imbalance stretched the schedule (budget
                       under-use), the benign direction.
    """
    sched = schedule_fetches(_skewed_wave(spark, n_salts), n_salts=n_salts)
    per_slot = sched.groupBy("host", "scheduled_ms").count()
    rows = (
        per_slot.groupBy("host")
        .agg(
            F.max("count").alias("burst_max"),
            F.max("scheduled_ms").alias("makespan_ms"),
            F.sum("count").alias("n"),
        )
        .collect()
    )
    out = {}
    for r in rows:
        ideal = (r["n"] - 1) * DELAY_MS
        out[r["host"]] = {
            "burst_max": int(r["burst_max"]),
            "makespan_ratio": round(r["makespan_ms"] / ideal, 4) if ideal
            else 1.0,
            "n": int(r["n"]),
        }
    return out


def test_grid_alignment_assumption(spark):
    """burst_max-via-grid-slots is exact only if every scheduled_ms is a
    multiple of delay — pin that property so the metric can't silently go
    approximate."""
    sched = schedule_fetches(_skewed_wave(spark, 8), n_salts=8)
    off_grid = sched.filter(
        F.col("scheduled_ms") % F.lit(DELAY_MS) != 0
    ).count()
    assert off_grid == 0


@pytest.mark.parametrize("n_salts", [1, 8])
def test_no_budget_overshoot_at_any_shard_count(spark, n_salts):
    """Exact per-window budget compliance: at most one fetch per host per
    delay window, for the unsalted baseline AND the salted schedule —
    worst-case per-host budget error (burst_max - 1) == 0 at S=8."""
    metrics = _budget_metrics(spark, n_salts)
    worst = max(m["burst_max"] for m in metrics.values())
    assert worst == 1, metrics


def test_makespan_stays_bounded_under_salting(spark):
    """Shard imbalance may stretch a host's makespan (under-use) but the
    stretch is bounded by the binomial imbalance of the shard fill — pin a
    generous ceiling so a regression to gross imbalance (e.g. salting by a
    constant) fails loudly, and record the measured numbers cited in
    BENCH.md."""
    m1 = _budget_metrics(spark, 1)
    m8 = _budget_metrics(spark, 8)
    assert m1["mega.test"]["makespan_ratio"] == 1.0
    # S=8 on 4096 urls: E[max shard] ≈ n/S + ~2σ ⇒ ratio ≈ S*max_j(n_j)/n;
    # binomial σ ≈ sqrt(n/S·(1−1/S)) ≈ 21 ⇒ ratio ≲ 1.10 with huge margin
    assert m8["mega.test"]["makespan_ratio"] < 1.25, m8
    # tail hosts (~64 urls over 8 shards) tolerate more relative stretch
    for h, m in m8.items():
        if h != "mega.test":
            assert m["makespan_ratio"] < 2.5, (h, m)
    print("politeness-budget accuracy (skewed mix):",
          {"S=1": m1["mega.test"], "S=8": m8["mega.test"]})
