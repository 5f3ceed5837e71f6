"""Repetition quality signals + corpus-level line dedup
(operators/quality.py) — edge cases the driver corpus can't exercise.

The oracle compare (via the query registry, canonicalized as in
tests/test_retired_queries.py) pins the corpus values; the other tests
pin the operator semantics directly: the whitespace contract,
tie-breaks, empty/single-word guards, trailing-line preservation,
idempotence, and the docs-with-every-line-boilerplate case.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from no_fasel_scrapers_spark.operators.quality import (
    line_dedup,
    with_repetition_stats,
)


def _rep(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return with_repetition_stats(df).orderBy("doc_id").collect()


def test_repetition_empty_and_single_word(spark):
    rows = _rep(spark, ["", "   ", "solo"])
    for r in rows[:2]:
        assert r.n_words == 0
        assert r.dup_word_frac == 0.0
        assert r.top_word is None
        assert r.top_word_frac == 0.0
        assert r.top_2gram is None and r.top_2gram_frac == 0.0
    solo = rows[2]
    assert solo.n_words == 1
    assert solo.top_word == "solo" and solo.top_word_frac == 1.0
    assert solo.top_2gram is None  # no 2-grams from one word
    assert solo.dup_2gram_frac == 0.0


def test_repetition_tie_breaks_lexicographically(spark):
    (r,) = _rep(spark, ["b a b a"])
    # a and b both occur twice; the smaller word wins
    assert r.top_word == "a" and r.top_word_frac == 0.5
    # grams: [b a, a b, b a] → top is "b a" at 2/3
    assert r.top_2gram == "b a"
    assert abs(r.top_2gram_frac - 2 / 3) < 1e-12
    assert abs(r.dup_2gram_frac - 1 / 3) < 1e-12


def test_repetition_maximal(spark):
    (r,) = _rep(spark, ["x x x x"])
    assert r.dup_word_frac == 0.75
    assert r.top_word_frac == 1.0
    assert r.top_2gram == "x x" and r.top_2gram_frac == 1.0
    assert abs(r.dup_2gram_frac - 2 / 3) < 1e-12


def test_repetition_whitespace_contract(spark):
    """Unicode whitespace (nbsp) must NOT split tokens (the Java-regex
    whitespace contract; Python str.split would diverge), leading/
    trailing tabs must NOT produce empty tokens, and whitespace-only or
    NULL text counts as empty."""
    nbsp, tab, ws_only, null = _rep(
        spark, ["x\u00a0y x\u00a0y z", "\ta b\n", "\t \n", None]
    )
    assert nbsp.n_words == 3 and nbsp.top_word == "x\u00a0y"
    assert tab.n_words == 2 and tab.top_word == "a"
    for r in (ws_only, null):
        assert r.n_words == 0 and r.top_word is None
        assert r.dup_word_frac == 0.0


def test_repetition_stats_matches_oracle(spark):
    """The registry's repetition_stats query (corpus + probe rows) equals
    its DuckDB oracle value for value, canonicalized as the retired-query
    compare does."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as E
    from test_retired_queries import SF_DIR, _canon

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    q = E.REGISTRY["repetition_stats"]
    sdf = q.build(spark, SF_DIR).toPandas()
    odf = con.execute(q.sql()).df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf) > 0
    a, b = _canon(sdf), _canon(odf)
    b = b.astype(a.dtypes.to_dict())
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_line_dedup_removes_boilerplate_keeps_structure(spark):
    docs = [
        (1, "boiler\nkeep one\n\ntail"),
        (2, "boiler\nkeep two"),
        (3, "boiler\nkeep three\n"),
        (4, "boiler"),
        (5, "pair\nkeep five"),
        (6, "pair\nkeep six"),
        (7, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in line_dedup(df, max_docs=2).collect()
    }
    assert len(out) == 7  # every doc survives, even if emptied or NULL
    assert out[7].text == "" and out[7].n_removed == 0  # NULL → ''
    # 'boiler' is in 4 > 2 docs → removed everywhere
    assert out[1].text == "keep one\n\ntail" and out[1].n_removed == 1
    assert out[2].text == "keep two"
    # trailing empty line is structure: preserved byte-exact
    assert out[3].text == "keep three\n" and out[3].n_lines == 3
    assert out[4].text == "" and out[4].n_removed == 1
    # 'pair' is in exactly max_docs docs → kept
    assert out[5].text == "pair\nkeep five" and out[5].n_removed == 0
    assert out[6].n_removed == 0


def test_line_dedup_whitespace_only_lines_survive(spark):
    """Whitespace-only lines under the FULL class (tab/VT/FF/CR, not just
    spaces) are structure, never removal candidates — even when shared by
    more than max_docs docs (ADVICE r3)."""
    docs = [(i, "\t\nkeep %d\n \x0b\f\r" % i) for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup(df, max_docs=2).collect()}
    for i in range(5):
        assert out[i].text == "\t\nkeep %d\n \x0b\f\r" % i
        assert out[i].n_removed == 0


def test_line_dedup_idempotent_on_clean_corpus(spark):
    docs = [(i, f"unique {i}\nalso unique {i}") for i in range(8)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = line_dedup(df, max_docs=2)
    joined = out.alias("o").join(df.alias("d"), "doc_id").filter(
        F.col("o.text") != F.col("d.text")
    )
    assert joined.count() == 0
    assert out.agg(F.sum("n_removed")).first()[0] == 0


def test_repetition_plan_is_narrow(spark):
    """Zero shuffle: the signals are a pure map over the corpus."""
    df = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    plan = with_repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# pii_scrub
# ---------------------------------------------------------------------------

def test_pii_scrub_redacts_and_counts(spark):
    from no_fasel_scrapers_spark.operators.quality import pii_scrub

    docs = [
        (0, "mail a.b+c@sub.example.org and d@e.io twice"),
        (1, "server 192.168.0.1 then 10.0.0.255 end"),
        (2, "call +97155501234 or +123456789 now"),
        (3, None),
        (4, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert (rows[0].n_email, rows[0].n_ip, rows[0].n_phone) == (2, 0, 0)
    assert rows[0].clean_text == "mail <EMAIL> and <EMAIL> twice"
    assert rows[1].n_ip == 2
    assert rows[1].clean_text == "server <IP> then <IP> end"
    assert rows[2].n_phone == 2
    assert rows[2].clean_text == "call <PHONE> or <PHONE> now"
    # NULL text: zero counts, empty clean text, no NULL propagation
    assert (rows[3].n_email, rows[3].n_ip, rows[3].n_phone) == (0, 0, 0)
    assert rows[3].clean_text == ""
    assert rows[4].clean_text == docs[4][1]


def test_pii_scrub_counts_are_raw_per_pattern_tallies(spark):
    from no_fasel_scrapers_spark.operators.quality import pii_scrub

    # an email whose domain is IP-shaped: both patterns count it on the
    # ORIGINAL text (counts are independent tallies), while the redaction
    # chain runs email-first so the IP never survives to the output
    df = spark.createDataFrame(
        [(0, "root@10.1.2.3.example.com logged in")],
        "doc_id long, text string",
    )
    (r,) = pii_scrub(df).collect()
    assert (r.n_email, r.n_ip) == (1, 1)
    assert r.clean_text == "<EMAIL> logged in"


def test_pii_scrub_plan_is_pure_codegen(spark):
    from no_fasel_scrapers_spark.operators.quality import pii_scrub

    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    plan = pii_scrub(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "pii_scrub must be a narrow map"
    for marker in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, f"pii_scrub must stay JVM-side ({marker})"


class TestCompressionRatio:
    """zlib compression-ratio signal (with_compression_ratio): parity
    with a direct python-zlib twin over the corpus sample + probes, and
    the gate-direction sanity that makes it a quality signal at all."""

    def test_matches_python_twin_and_probes(self, spark):
        import zlib

        from no_fasel_scrapers_spark.operators.quality import (
            with_compression_ratio,
        )

        rows = [
            (0, "boiler " * 400),                 # repeated → low ratio
            (1, None),                            # NULL → '' → neutral 1.0
            (2, ""),                              # empty → neutral 1.0
            (3, "صفحة عربية " * 50),              # non-ascii utf-8 lens
            (4, "x"),                             # tiny: ratio > 1 (header)
            (5, "the quick brown fox jumps over the lazy dog " * 20),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in with_compression_ratio(df).collect()}
        for doc_id, text in rows:
            b = (text or "").encode("utf-8")
            c = len(zlib.compress(b, 6))
            r = got[doc_id]
            assert r.raw_len == len(b)
            assert r.comp_len == c
            assert r.comp_ratio == (c / len(b) if b else 1.0)
        # gate direction: repeated boilerplate compresses far better
        # than varied prose, which beats the single-char header case
        assert got[0].comp_ratio < got[5].comp_ratio < got[4].comp_ratio

    def test_corpus_sample_parity(self, spark):
        import zlib

        from no_fasel_scrapers_spark.operators.quality import (
            with_compression_ratio,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text")
        got = with_compression_ratio(docs).collect()
        assert len(got) > 0
        for r in got:
            b = (r.text or "").encode("utf-8")
            assert r.comp_len == len(zlib.compress(b, 6))

    def test_plan_is_single_narrow_map(self, spark):
        import io
        from contextlib import redirect_stdout

        from no_fasel_scrapers_spark.operators.quality import (
            with_compression_ratio,
        )

        df = spark.createDataFrame([(0, "t")], "doc_id long, text string")
        buf = io.StringIO()
        with redirect_stdout(buf):
            with_compression_ratio(df).explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan
        assert "MapInPandas" in plan
        assert "BatchEvalPython" not in plan
