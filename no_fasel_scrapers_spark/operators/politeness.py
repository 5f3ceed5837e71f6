"""Per-host politeness budget — token-bucket schedule as pure columns.

Absent from the reference (its only throttle is the Cloudflare cookie dance,
``Common.py:107-138``); required by the north_rule.  Semantics:

- each host has ``crawl_delay_ms``, read off the wave's rows: the robots
  gate (operators/robots.apply_robots) joins it onto every row it lets
  through, 0 for a host without a robots row — so scheduling runs no
  join of its own;
- a host's budget is divided across its ``n_salts`` shards (a salted host
  fetches in parallel, so each shard spaces its fetches by
  ``delay * n_salts`` — aggregate rate per host stays 1/delay);
- shards are PHASE-OFFSET by their salt index:
  ``scheduled_ms = (fetch_seq * n_salts + host_salt) * delay``.  Without
  the offset every populated shard fires at the same multiples of
  ``delay * n_salts`` — instantaneous bursts of up to S requests per
  delay window (the accuracy loss SURVEY.md §7.3-3 documented as an
  open trade-off).  With it, each shard owns a disjoint residue class of
  the per-host delay grid, so any half-open window of width ``delay``
  contains at most ONE fetch — exact budget compliance at any S; an
  unevenly-filled shard only leaves its grid slots idle (rate under-use,
  never overshoot).  Measured on a skewed host mix in
  tests/test_politeness_accuracy.py; numbers cited in BENCH.md.
- within a shard, fetch order is the deterministic frontier order, so the
  schedule itself is reproducible at any parallelism.

Offline (pages-table joins) nothing sleeps — the schedule is recorded as
``fetch_seq`` / ``scheduled_ms`` columns; the wave's makespan (its
largest ``scheduled_ms``) goes into the crawl's lineage row.  The live
adapter (plans/live_fetch.py notes) consumes ``scheduled_ms`` inside its
mapInPandas batch loop.

Everything here is a window function over (host, host_salt) — partitioned,
scalable, no global sort, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def schedule_fetches(wave: DataFrame, n_salts: int = 8) -> DataFrame:
    """Attach fetch_seq (per host-shard) and scheduled_ms to a wave that
    carries ``crawl_delay_ms``."""
    w = Window.partitionBy("host", "host_salt").orderBy(
        F.col("priority").asc(), F.col("depth").asc(), F.col("url_hash").asc()
    )
    return (
        wave.withColumn("fetch_seq", F.row_number().over(w) - 1)
        .withColumn(
            "scheduled_ms",
            (
                (F.col("fetch_seq") * F.lit(n_salts) + F.col("host_salt"))
                * F.col("crawl_delay_ms")
            ).cast("long"),
        )
    )

