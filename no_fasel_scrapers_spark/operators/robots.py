"""robots.txt gating — pure join + array fold (north_rule requirement).

Absent from the reference entirely (SURVEY.md §4): its fetches are
unthrottled and ungated.  Here: frontier ⋈ robots, ONE broadcast join
(the robots table is one row per host) carrying the host's compiled rules
and its ``crawl_delay_ms``, which the politeness schedule reads off the
joined rows.  ``robots_parse.gate_table`` brings any robots table to that
shape: parsed Allow/Disallow regexes, or a prefix-only table's prefixes as
literal Disallow rules (``path.startswith(prefix)``).

One match rule, RFC 9309 longest-match-wins: a row is blocked iff the
longest matching Disallow pattern is STRICTLY longer than the longest
matching Allow pattern (ties go to Allow, the least-restrictive reading).
The per-row cost is RLIKE probes over a small broadcast array.

Matching is over the canonical PATH only (query strings are stripped by
url canonicalization upstream, so rules against ``?`` params cannot be
expressed — documented trade-off, not an oversight).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .robots_parse import gate_table


def url_path(url) -> "F.Column":
    """Path component of a canonical URL (always starts with '/')."""
    rest = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    path = F.regexp_replace(rest, r"^[^/?#]*", "")
    path = F.regexp_extract(path, r"^([^?#]*)", 1)
    return F.when(path == "", F.lit("/")).otherwise(path)


def apply_robots(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Return (allowed, blocked) frontier rows, both with the host's
    ``crawl_delay_ms`` (0 for a host without a robots row)."""
    joined = frontier.join(
        F.broadcast(gate_table(robots)), "host", "left"
    ).withColumns({
        "crawl_delay_ms": F.coalesce(F.col("crawl_delay_ms"), F.lit(0)),
        "__path": url_path(F.col("url")),
    })
    # one fold over the matching rules: longest Allow vs longest
    # Disallow pattern length (-1 = no match); staged as its own
    # column so the fold is evaluated once, not per reference
    joined = joined.withColumn(
        "__best",
        F.expr(
            "aggregate("
            "  filter(rules, r -> __path RLIKE r.rx),"
            "  named_struct('a', -1, 'd', -1),"
            "  (acc, r) -> named_struct("
            "    'a', IF(r.allow, greatest(acc.a, r.plen), acc.a),"
            "    'd', IF(NOT r.allow, greatest(acc.d, r.plen), acc.d)))"
        ),
    )
    blocked_cond = F.coalesce(
        F.col("__best.d") > F.col("__best.a"), F.lit(False)
    )
    drop = ["rules", "__path", "__best"]
    allowed = joined.filter(~blocked_cond).drop(*drop)
    blocked = joined.filter(blocked_cond).drop(*drop)
    return allowed, blocked
