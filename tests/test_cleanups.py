"""Property tests: Spark column cleanups == reference Python semantics.

Each Spark expression in functions/cleanups.py is compared byte-for-byte
against a Python oracle implementing the reference helper verbatim
(Common.py:163-165, 257-264, 184-186, 360-364; TrendingScraper.py:87-88).
"""

from urllib.parse import quote

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from no_fasel_scrapers_spark.functions import cleanups

# -- Python oracles (reference semantics, verbatim) -------------------------

def o_remove_arabic(s):
    return s.encode("ascii", "ignore").decode().strip()


def o_remove_year(t):
    if t[-4:].isdigit() and len(t) > 4:
        t = t.replace(t[-5:], "")
    return t


def o_fix_url(u):
    return quote(u.split("?")[0]).replace("%3A", ":")


def o_clean_iframe(src):
    try:
        return src.split("=")[2].replace("&img", "")
    except IndexError:
        return ""


def _run(spark, fn, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [r["out"] for r in df.select(fn(F.col("s")).alias("out")).collect()]


ASCII_TITLE = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E), max_size=24
)
# Every property over MIXED compares code-point-level rules that no
# Unicode-version table decides (ASCII filtering, ASCII/Z*-whitespace
# stripping, splitting on ASCII separators, UTF-8 percent-encoding): a
# per-code-point audit of all 1,112,063 scalar values, alone and in three
# contexts, found no JVM/CPython disagreement for them.  Case mapping is
# the exception; TestNormalizedTitleKey draws from its own alphabet.
MIXED = st.text(max_size=24).filter(lambda s: "\x00" not in s)


def _edge_cases():
    return [
        "", "2020", "02020", "A 2020", "ab 2020 cd 2020", "T3", "    ",
        "عنوان عربي", "x عربي y 2021", "a=b=c&imgZ", "no-equals",
        "one=two", "a=b=c=d&img&img", "  padded  ", "A\t2021", "1234",
        "x1234", " 1234",
    ]


class TestRemoveArabicChars:
    def test_edges(self, spark):
        vals = _edge_cases()
        got = _run(spark, cleanups.remove_arabic_chars, vals)
        assert got == [o_remove_arabic(v) for v in vals]

    @settings(max_examples=30, deadline=None)
    @given(st.lists(MIXED, min_size=1, max_size=20))
    def test_property(self, spark, vals):
        got = _run(spark, cleanups.remove_arabic_chars, vals)
        assert got == [o_remove_arabic(v) for v in vals]


class TestRemoveYear:
    def test_edges(self, spark):
        vals = _edge_cases()
        got = _run(spark, cleanups.remove_year, vals)
        assert got == [o_remove_year(v) for v in vals]

    @settings(max_examples=30, deadline=None)
    @given(st.lists(ASCII_TITLE, min_size=1, max_size=20))
    def test_property(self, spark, vals):
        got = _run(spark, cleanups.remove_year, vals)
        assert got == [o_remove_year(v) for v in vals]


class TestCleanTitle:
    @settings(max_examples=30, deadline=None)
    @given(st.lists(MIXED, min_size=1, max_size=20))
    def test_composition(self, spark, vals):
        got = _run(spark, cleanups.clean_title, vals)
        assert got == [o_remove_year(o_remove_arabic(v)) for v in vals]


class TestFixUrl:
    def test_edges(self, spark):
        vals = [
            "https://a.b/c d/e?x=1", "https://a.b/%D9%81?q", "a b*c~d/e:f",
            "https://x/امم?utm=1", "", "?only-query", "https://a.b/+plus",
        ]
        got = _run(spark, cleanups.fix_url, vals)
        assert got == [o_fix_url(v) for v in vals]

    @settings(max_examples=30, deadline=None)
    @given(st.lists(MIXED, min_size=1, max_size=15))
    def test_property(self, spark, vals):
        got = _run(spark, cleanups.fix_url, vals)
        assert got == [o_fix_url(v) for v in vals]


class TestCleanIframeSource:
    def test_edges(self, spark):
        vals = _edge_cases() + [
            "https://p/e?a=b&src=STR7", "https://p/e?a=b&src=STR7&img=pp",
        ]
        got = _run(spark, cleanups.clean_iframe_source, vals)
        assert got == [o_clean_iframe(v) for v in vals]

    @settings(max_examples=30, deadline=None)
    @given(st.lists(MIXED, min_size=1, max_size=20))
    def test_property(self, spark, vals):
        got = _run(spark, cleanups.clean_iframe_source, vals)
        assert got == [o_clean_iframe(v) for v in vals]


def o_title_key(t):
    return "".join(t.lower().split())


# The case-mapping seam documented on normalized_title_key: the code points
# whose lowercase the JVM (ICU, Unicode 16) and CPython (Unicode 14) map
# differently — capitals assigned after Unicode 14.  Hard-coded, so the
# property's alphabet does not depend on the function under test;
# test_case_mapping_seam_is_the_audited_list re-derives it from F.lower.
CASE_MAPPING_SEAM = frozenset(
    chr(c)
    for c in [0x1C89, 0xA7CB, 0xA7CC, 0xA7DA, 0xA7DC, *range(0x10D50, 0x10D66)]
)
TITLE_KEY_TEXT = st.text(
    alphabet=st.characters(
        codec="utf-8",  # no lone surrogates, like MIXED
        # U+03A3 lowercases to final or medial sigma by context, which each
        # side reads from its own Unicode tables
        exclude_characters=CASE_MAPPING_SEAM | {"\x00", "\u03a3"},
    ),
    max_size=24,
)


class TestNormalizedTitleKey:
    def test_case_mapping_seam_is_the_audited_list(self, spark):
        # one Spark query lowercases every Unicode scalar value on the JVM;
        # only the characters it changes come back, and together with the
        # ones CPython changes they are every candidate for a disagreement
        cps = spark.range(1, 0x110000).filter(
            ~F.col("id").between(0xD800, 0xDFFF)
        )
        ch = F.decode(F.unhex(F.lpad(F.hex("id"), 8, "0")), "UTF-32")
        jvm = {
            r["s"]: r["l"]
            for r in cps.select(ch.alias("s"))
            .select("s", F.lower("s").alias("l"))
            .filter(F.col("l") != F.col("s"))
            .collect()
        }
        py = {
            chr(c) for c in range(1, 0x110000)
            if not 0xD800 <= c <= 0xDFFF and chr(c).lower() != chr(c)
        }
        seam = {c for c in jvm.keys() | py if jvm.get(c, c) != c.lower()}
        assert seam == CASE_MAPPING_SEAM

    @settings(max_examples=30, deadline=None)
    @given(st.lists(TITLE_KEY_TEXT, min_size=1, max_size=20))
    def test_property(self, spark, vals):
        # contract: JVM and CPython agree on every string over code points
        # whose lowercase they agree on (outside U+03A3, both lowercase per
        # character, and whitespace is per character)
        got = _run(spark, cleanups.normalized_title_key, vals)
        assert got == [o_title_key(v) for v in vals]


class TestPyCapitalize:
    def test_genre_slugs(self, spark):
        vals = ["action", "sci-fi", "DRAMA", "", "x"]
        got = _run(spark, cleanups.py_capitalize, vals)
        assert got == [v.capitalize() for v in vals]


def o_clean_anime(t):
    return (
        t.replace("Anime", "").replace("anime", "").replace("?", "")
        .strip().encode("ascii", "ignore").decode()
    )


class TestCleanAnimeTitle:
    def test_edges(self, spark):
        from no_fasel_scrapers_spark.functions.cleanups import clean_anime_title

        vals = _edge_cases() + [
            "Naruto Anime", "anime?Attack", "Anime", "  Anime anime ? ",
            "One?Piece Anime!", "عرض Anime عربي", " عرب x ",
            " padded nbsp ", "Ani?me",
        ]
        got = _run(spark, clean_anime_title, vals)
        assert got == [o_clean_anime(v) for v in vals]

    @given(vals=st.lists(MIXED, min_size=1, max_size=12))
    @settings(deadline=None, max_examples=25)
    def test_property(self, spark, vals):
        from no_fasel_scrapers_spark.functions.cleanups import clean_anime_title

        got = _run(spark, clean_anime_title, vals)
        assert got == [o_clean_anime(v) for v in vals]


def test_translate_titles_lookup_and_cleanup(spark):
    from no_fasel_scrapers_spark.plans.postprocess import translate_titles

    records = spark.createDataFrame(
        [("عرض ناروتو",), ("Already English",)], "title string"
    )
    lookup = spark.createDataFrame(
        [("عرض ناروتو", "Naruto Show Anime?")], "ar_title string, en_title string"
    )
    got = sorted(r.title for r in translate_titles(records, lookup).collect())
    # matched: translated then Anime/?-scrubbed → "Naruto Show";
    # unmatched English survives the ascii-only cleanup unchanged
    assert got == ["Already English", "Naruto Show"]
