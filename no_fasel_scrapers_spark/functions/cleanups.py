"""The reference's scalar string cleanups, re-expressed as pure Spark columns.

Each function reproduces the observable byte-level behavior of a reference
helper (cited file:line) — including its edge cases — using only JVM-side
built-ins so the entire cleanup pipeline stays inside whole-stage codegen.
Property tests in tests/test_cleanups.py compare every function against a
Python oracle implementing the reference semantics verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_MAXLEN = 2147483647


def remove_arabic_chars(s: Column) -> Column:
    """ASCII-ignore strip — reference ``Common.py:163-165``.

    ``s.encode("ascii", "ignore").decode().strip()``: drop every non-ASCII
    codepoint, then strip Python-whitespace from both ends.  Python
    ``str.strip()`` on ASCII text strips ``\\s`` plus the C0 separators
    ``\\x1c-\\x1f`` (Java ``\\s`` alone misses those).
    """
    ascii_only = F.regexp_replace(s, r"[^\x00-\x7F]", "")
    ws = r"[\s\x{001C}-\x{001F}]"
    return F.regexp_replace(ascii_only, f"^{ws}+|{ws}+$", "")


def remove_year(title: Column) -> Column:
    """Trailing-production-year chop — reference ``Common.py:257-264``.

    If the last 4 chars are digits and len>4, the reference does
    ``title.replace(title[-5:], "")`` — replacing **every** occurrence of the
    trailing 5-char substring, not just the tail.  That quirk is reproduced
    (``F.replace`` is a literal replace-all).  Matches ``[0-9]`` digits; the
    pipeline input is ASCII-only because ``remove_arabic_chars`` runs first
    (``Common.py:267-272``).
    """
    last4 = F.substring(title, -4, 4)
    last5 = F.substring(title, -5, 5)
    chop = (F.length(title) > 4) & last4.rlike(r"^[0-9]{4}$")
    return F.when(chop, F.replace(title, last5, F.lit(""))).otherwise(title)


def clean_title(raw: Column) -> Column:
    """``remove_year(remove_arabic_chars(x))`` — reference ``Common.py:267-272``."""
    return remove_year(remove_arabic_chars(raw))


def fix_url(url: Column) -> Column:
    """Percent-re-encode, reference ``Common.py:184-186``.

    ``quote(url.split("?")[0]).replace("%3A", ":")``.  Spark's ``url_encode``
    is java.net.URLEncoder (form-encoding); the fix-up chain converts its
    output to Python ``urllib.parse.quote(safe='/')`` byte-for-byte:
    ``+``→``%20`` (space), ``*``→``%2A`` (Java keeps ``*``, Python encodes),
    ``%2F``→``/`` (Python keeps ``/``), ``%7E``→``~`` (Python keeps ``~``);
    both emit uppercase hex UTF-8 elsewhere.  Then the reference's final
    ``%3A``→``:``.
    """
    before_q = F.substring_index(url, "?", 1)
    e = F.url_encode(before_q)
    e = F.replace(e, F.lit("+"), F.lit("%20"))
    e = F.replace(e, F.lit("*"), F.lit("%2A"))
    e = F.replace(e, F.lit("%2F"), F.lit("/"))
    e = F.replace(e, F.lit("%7E"), F.lit("~"))
    return F.replace(e, F.lit("%3A"), F.lit(":"))


def clean_iframe_source(src: Column) -> Column:
    """Stream-URL munge — reference ``Common.py:360-364``.

    ``src.split("=")[2].replace("&img", "")`` with IndexError → ``""``:
    third ``=``-separated token (if any) with every literal ``&img`` removed.
    """
    parts = F.split(src, "=", -1)
    third = F.element_at(parts, 3)
    cleaned = F.replace(third, F.lit("&img"), F.lit(""))
    return F.when(F.size(parts) >= 3, cleaned).otherwise(F.lit(""))


def py_capitalize(s: Column) -> Column:
    """Python ``str.capitalize()`` (first char upper, rest lower) — used for
    genre slugs, reference ``Common.py:280``.  Spark's ``initcap`` capitalizes
    every word, which is NOT the same."""
    return F.concat(
        F.upper(F.substring(s, 1, 1)), F.lower(F.substring(s, 2, _MAXLEN))
    )


def normalized_title_key(title: Column) -> Column:
    """Trending "fuzzy" match key — reference ``TrendingScraper.py:87-88``.

    ``"".join(title.lower().split())``: lowercase, remove ALL whitespace runs.
    Python ``str.split()`` whitespace = ASCII ``\\s`` + ``\\x1c-\\x1f`` +
    ``\\x85`` + Unicode Z* — the Java class below covers exactly that set.

    Seam: the two sides lowercase from different Unicode versions.  Spark
    4's ``lower`` uses ICU case mappings (``spark.sql.icu.caseMappings.
    enabled``; ICU4J 77 = Unicode 16), CPython's ``str.lower`` its own
    ``unicodedata`` (3.11 = Unicode 14).  Capitals assigned in between —
    U+1C89, U+A7CB/CC/DA/DC and Garay U+10D50-10D65 — lowercase on the JVM
    only, and U+03A3 (Σ) takes its context-dependent final form from each
    side's own cased/case-ignorable tables.  Parity holds on every string
    over code points whose lowercase both sides agree on, apart from Σ;
    tests/test_cleanups.py pins that seam and re-derives it from the JVM.
    """
    return F.regexp_replace(
        F.lower(title), r"[\s\p{Z}\x{0085}\x{001C}-\x{001F}]+", ""
    )


def url_category(link: Column) -> Column:
    """URL-substring category classifier — reference ``TrendingScraper.py:74-81``."""
    return (
        F.when(link.contains("%d9%81%d9%8a%d9%84%d9%85"), F.lit("movies"))
        .when(link.contains("asian-episodes"), F.lit("asian-series"))
        .when(link.contains("anime-episodes"), F.lit("anime"))
        .otherwise(F.lit("series"))
    )


def path_segment(link: Column, idx: int) -> Column:
    """``link.split("/")[idx]`` with Python indexing semantics.

    The reference derives ids from URL path positions — ``[4]`` in
    ``AkwamMoviesScaper.py:17`` but ``[-2]`` in ``AkwamSeriesScraper.py:61`` /
    ``TrendingScraper.py:30`` (same site, different convention; both kept).
    Out-of-range yields NULL (the reference would raise — callers guard).
    """
    parts = F.split(link, "/", -1)
    # element_at is 1-based from the front, negative from the back
    pos = idx + 1 if idx >= 0 else idx
    return F.element_at(parts, pos)


def scrub_genres(genres: Column) -> Column:
    """Junk-genre filter — reference ``Postprocessing.py:36-49``.

    Drops entries containing ``%`` or exactly equal to ``/``; missing array →
    ``[]`` (callers wrap with ``coalesce``).
    """
    return F.filter(genres, lambda g: (~g.contains("%")) & (g != "/"))


_PY_WS = r"[\s\p{Z}\x{0085}\x{001C}-\x{001F}]"


def clean_anime_title(translated: Column) -> Column:
    """Post-translation anime-title cleanup — reference
    ``FaselAnimeScraper.py:16-29``.

    ``translation.replace("Anime","").replace("anime","").replace("?","")
    .strip().encode("ascii","ignore").decode()`` — note the order differs
    from ``remove_arabic_chars``: here Python strips *before* dropping
    non-ASCII, so whitespace uncovered by the ASCII drop is kept.  The
    translation itself (googletrans ar→en, infinite retry) is inherently
    irreproducible; the engine replaces it with a deterministic lookup-table
    join (``plans/postprocess.translate_titles``) and applies this exact
    cleanup after.
    """
    t = F.replace(translated, F.lit("Anime"), F.lit(""))
    t = F.replace(t, F.lit("anime"), F.lit(""))
    t = F.replace(t, F.lit("?"), F.lit(""))
    stripped = F.regexp_replace(t, f"^{_PY_WS}+|{_PY_WS}+$", "")
    return F.regexp_replace(stripped, r"[^\x00-\x7F]", "")
