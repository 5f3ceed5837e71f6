"""robots.txt parsing as pure Spark columns — no per-row Python.

Turns raw robots.txt bodies ``(host, robots_txt)`` into the parsed robots
table the crawl gate joins (operators/robots.apply_robots).

robots.txt looks stateful (a group = a run of ``User-agent`` lines followed
by its rules), but the grammar resolves with two windows:

1. ``group_id`` = running count of group STARTS, where a start is a
   User-agent line not directly preceded by another User-agent line
   (``lag`` + running ``sum`` per host, ordered by line number);
2. group selection = RFC 9309 specificity: groups naming the agent exactly
   beat ``*`` groups; rules outside any matching group are ignored.

Comments (``# …``) and blank lines are stripped; directives match
case-insensitively; empty Disallow/Allow values are dropped.  Unknown
directives are ignored.  One shuffle on host.

RFC 9309 rule matching (round 5): the output carries ``rules`` — every
Allow + Disallow pattern precompiled ONCE at parse time into an anchored
Java regex (``*`` → ``.*``, trailing ``$`` → end anchor, all other regex
metacharacters escaped) with its raw pattern length for longest-match
precedence.  ``operators/robots.apply_robots`` evaluates the match per
frontier row entirely JVM-side; compiling at parse time keeps the
per-row work to RLIKE probes on a tiny broadcast array instead of
re-deriving regexes per row.  :func:`gate_table` compiles a prefix-only
table (``disallow_prefixes``, no ``rules``: the crawl fixtures, hand-built
tables) into literal Disallow rules, so one module compiles every rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# Java regex metacharacters other than ``*``, as a character class body
_META = r"\.\^\$\|\?\+\(\)\[\]\{\}\\"


def _escaped(p: Column, meta: str) -> Column:
    return F.regexp_replace(p, f"([{meta}])", r"\\$1")


def pattern_to_regex(p: Column) -> Column:
    """robots.txt rule pattern → anchored Java regex (as a column).

    Per RFC 9309 / Google semantics: ``*`` matches any character
    sequence, a TRAILING ``$`` anchors the end (a ``$`` elsewhere is
    literal), everything else is literal — so escape Java regex
    metacharacters first, then expand ``*``."""
    anchored = p.endswith("$")
    body = F.regexp_replace(p, r"\$$", "")
    star = F.regexp_replace(_escaped(body, _META), r"\*", ".*")
    return F.concat(
        F.lit("^"), star, F.when(anchored, F.lit("$")).otherwise(F.lit("")),
    )


def _rule_struct(p: Column, allow: bool, rx: Column) -> Column:
    return F.struct(
        p.alias("pattern"),
        F.lit(allow).alias("allow"),
        F.length(p).alias("plen"),
        rx.alias("rx"),
    )


def gate_table(robots: DataFrame) -> DataFrame:
    """Any robots table → ``(host, rules, crawl_delay_ms)``.  A prefix
    becomes ``^`` + the prefix with EVERY metacharacter escaped, ``*`` and
    ``$`` too, so it matches exactly ``path.startswith(prefix)``."""
    if "rules" in robots.columns:
        rules = F.col("rules")
    else:
        rules = F.transform(
            F.col("disallow_prefixes"),
            lambda p: _rule_struct(
                p, False, F.concat(F.lit("^"), _escaped(p, _META + r"\*"))
            ),
        )
    return robots.select("host", rules.alias("rules"), "crawl_delay_ms")


def parse_robots_txt(
    robots_bodies: DataFrame,
    agent: str = "*",
    default_delay_ms: int = 0,
) -> DataFrame:
    """(host, robots_txt) → (host, disallow_prefixes array, crawl_delay_ms).

    ``agent`` is the crawler's User-agent token.  Hosts whose body yields
    no applicable rules come back with an empty prefix array and the
    default delay (crawl everything, politely)."""
    lines = robots_bodies.select(
        "host",
        F.posexplode(F.split(F.col("robots_txt"), "\n")).alias(
            "ln", "raw"
        ),
    ).select(
        "host",
        "ln",
        F.trim(F.regexp_replace(F.col("raw"), "#.*", "")).alias("line"),
    ).filter(F.col("line") != "")

    directive = F.lower(F.trim(F.substring_index(F.col("line"), ":", 1)))
    value = F.trim(
        F.expr("substring(line, instr(line, ':') + 1, length(line))")
    )
    parsed = lines.filter(F.col("line").contains(":")).select(
        "host", "ln", directive.alias("d"), value.alias("v")
    )

    w = Window.partitionBy("host").orderBy("ln")
    grouped = parsed.withColumn(
        "is_ua", (F.col("d") == "user-agent").cast("int")
    ).withColumn(
        "group_id",
        F.sum(
            (
                (F.col("d") == "user-agent")
                & (
                    F.coalesce(
                        F.lag("d").over(w) != F.lit("user-agent"),
                        F.lit(True),
                    )
                )
            ).cast("int")
        ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )

    # RFC 9309 group selection (exact-agent groups win over '*' groups)
    # as window maxima over the SAME host partitioning the group_id
    # window already established — HashPartitioning(host) satisfies the
    # (host, group_id) clustering, so no further exchange is planned.
    wg = Window.partitionBy("host", "group_id")
    wh = Window.partitionBy("host")
    is_named_ua = (
        (F.col("d") == "user-agent")
        & (F.lower(F.col("v")) == agent.lower())
    ).cast("int")
    is_wild_ua = (
        (F.col("d") == "user-agent") & (F.col("v") == "*")
    ).cast("int")
    rules = (
        grouped.withColumn("named_g", F.max(is_named_ua).over(wg))
        .withColumn("wild_g", F.max(is_wild_ua).over(wg))
        .withColumn("host_named", F.max(F.col("named_g")).over(wh))
        .filter(
            ((F.col("host_named") == 1) & (F.col("named_g") == 1))
            | ((F.col("host_named") == 0) & (F.col("wild_g") == 1))
        )
    )
    # one conditional aggregation instead of three filtered groupBys —
    # collect_set skips the NULLs the when() leaves on non-matching rows,
    # and the partial aggregate rides the existing host partitioning
    agg = rules.groupBy("host").agg(
        F.array_sort(
            F.collect_set(
                F.when(
                    (F.col("d") == "disallow") & (F.col("v") != ""),
                    F.col("v"),
                )
            )
        ).alias("disallow_prefixes"),
        F.array_sort(
            F.collect_set(
                F.when(
                    (F.col("d") == "allow") & (F.col("v") != ""),
                    F.col("v"),
                )
            )
        ).alias("allow_patterns"),
        (
            F.max(
                F.when(
                    F.col("d") == "crawl-delay", F.col("v").cast("double")
                )
            )
            * 1000
        )
        .cast("long")
        .alias("delay_ms"),
    )
    # hosts whose body yields no applicable rules (empty file, garbage,
    # no matching group) still need a row: rejoin against the host list
    hosts = robots_bodies.select("host").distinct()
    empty = F.array().cast("array<string>")
    out = hosts.join(agg, "host", "left").select(
        "host",
        F.coalesce(F.col("disallow_prefixes"), empty).alias(
            "disallow_prefixes"
        ),
        F.coalesce(F.col("allow_patterns"), empty).alias(
            "allow_patterns"
        ),
        F.coalesce(F.col("delay_ms"), F.lit(default_delay_ms))
        .cast("long")
        .alias("crawl_delay_ms"),
    )
    return out.withColumn(
        "rules",
        F.concat(
            F.transform(
                F.col("disallow_prefixes"),
                lambda p: _rule_struct(p, False, pattern_to_regex(p)),
            ),
            F.transform(
                F.col("allow_patterns"),
                lambda p: _rule_struct(p, True, pattern_to_regex(p)),
            ),
        ),
    )
