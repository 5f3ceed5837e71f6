"""URL canonicalization + hashing — pure Spark column expressions.

Everything keys off this module: the URL-seen filter, frontier dedup,
host-based partitioning and politeness budgets all use
``url_hash = xxhash64(canonicalize_url(url))``.

Canonicalization contract (deterministic, documented — the reference has no
canonicalization at all; its implicit URL keys are raw hrefs, e.g.
FaselMoviesScraper.py:18):

1. scheme lowercased; missing scheme -> ``https``
2. userinfo stripped, host lowercased, default ports (``:80`` http /
   ``:443`` https) stripped
3. fragment dropped
4. path: duplicate ``/`` collapsed, trailing ``/`` stripped (root ``/``
   kept), empty path -> ``/``
5. query: tracking params removed (``utm_*``, ``fbclid``, ``gclid``,
   ``msclkid``, ``igshid``, ``ref``, ``ref_src``), empty params removed,
   remainder sorted lexicographically and re-joined with ``&``

All steps are JVM-side built-ins (regexp/array higher-order functions) so the
whole canonicalization stays inside whole-stage codegen — no Python in the
hot path.  At 10^10-URL scale this runs on every discovered link, so it must
be a pure column pipeline, and it is.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tracking parameters stripped during canonicalization (name match, before '=').
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|igshid|ref|ref_src)(=.*)?$"

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"


def _scheme(url: Column) -> Column:
    s = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    return F.when(s == "", F.lit("https")).otherwise(s)


def _after_scheme(url: Column) -> Column:
    return F.regexp_replace(url, _SCHEME_RE, "")


def _authority(url: Column) -> Column:
    return F.regexp_extract(_after_scheme(url), r"^([^/?#]*)", 1)


def url_host(url: Column) -> Column:
    """Lowercased host without userinfo or port."""
    host_port = F.lower(F.regexp_replace(_authority(url), r"^.*@", ""))
    return F.regexp_replace(host_port, r":\d*$", "")


def _path_and_query(url: Column) -> Column:
    # strip authority, then fragment
    rest = F.regexp_replace(_after_scheme(url), r"^[^/?#]*", "")
    return F.regexp_replace(rest, r"#.*$", "")


def _canonical_path(url: Column) -> Column:
    path = F.regexp_extract(_path_and_query(url), r"^([^?]*)", 1)
    path = F.regexp_replace(path, r"/{2,}", "/")
    path = F.regexp_replace(path, r"^(.+?)/+$", "$1")
    return F.when(path == "", F.lit("/")).otherwise(path)


def _canonical_query(url: Column) -> Column:
    q = F.regexp_extract(_path_and_query(url), r"\?(.*)$", 1)
    parts = F.split(q, "&")
    kept = F.filter(
        parts,
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    return F.array_join(F.array_sort(kept), "&")


def canonicalize_url(url: Column) -> Column:
    """Canonical form of ``url`` per the module contract. Pure columns."""
    scheme = _scheme(url)
    host_port = F.lower(F.regexp_replace(_authority(url), r"^.*@", ""))
    host = F.regexp_replace(host_port, r":\d*$", "")
    port = F.regexp_extract(host_port, r":(\d+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    authority = F.when(keep_port, F.concat(host, F.lit(":"), port)).otherwise(host)
    q = _canonical_query(url)
    return F.concat(
        scheme,
        F.lit("://"),
        authority,
        _canonical_path(url),
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )


def url_hash(url: Column) -> Column:
    """64-bit key of the canonical URL — the seen-filter / frontier key.

    ``xxhash64`` is a JVM built-in; its 64-bit space addresses a 10^10-URL
    frontier with collision probability ~ n^2/2^65 ≈ 0.3% overall, and the
    exact left_anti backstop (operators/seen_filter.py) makes collisions
    harmless for correctness.
    """
    return F.xxhash64(canonicalize_url(url))


def host_salt(url: Column, n_salts: int = 8) -> Column:
    """Salt shard in [0, n_salts) — splits a mega-host across partitions.

    The reference serializes each host on one thread pool
    (FaselMoviesScraper.py:97-98); at scale one mega-host (~30% of the
    frontier per FIXTURES.md) would straggle a single task, so we
    repartition on (host, host_salt) and divide the politeness budget by
    n_salts per shard (SURVEY.md §7.3-3).
    """
    return F.pmod(F.xxhash64(canonicalize_url(url)), F.lit(n_salts)).cast("int")


def with_url_keys(df, url_col: str = "url", n_salts: int = 8):
    """Attach (canonical_url, url_hash, host, host_salt) columns."""
    c = F.col(url_col)
    canon = canonicalize_url(c)
    return (
        df.withColumn("canonical_url", canon)
        .withColumn("url_hash", F.xxhash64(F.col("canonical_url")))
        .withColumn("host", url_host(c))
        .withColumn(
            "host_salt",
            F.pmod(F.col("url_hash"), F.lit(n_salts)).cast("int"),
        )
    )
