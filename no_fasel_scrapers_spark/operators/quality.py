"""Repetition / boilerplate quality signals for training-data curation.

Two operators in the Gopher / CCNet lineage (public papers:
"Scaling Language Models: Methods, Analysis & Insights from Training
Gopher", Rae et al. 2021, §A1.1 repetition filters; "CCNet: Extracting
High Quality Monolingual Datasets from Web Crawl Data", Wenzek et al.
2019, §3.1 paragraph-level dedup):

``with_repetition_stats``
    Per-document word-level repetition signals (duplicate-word fraction,
    most-frequent word / 2-gram and their coverage fractions).  Entirely
    narrow — zero shuffle, one Arrow ``mapInPandas`` pass; at 100 TB this
    is a pure map over the corpus.  Gopher defines the n-gram signals
    over *characters*; here they are word-count fractions (documented
    divergence — equally monotone in repetitiveness, cheaper, and
    exactly oracle-able).

``line_dedup``
    Corpus-level boilerplate-line removal: a line (split on ``\\n``)
    that occurs in more than ``max_docs`` distinct documents is removed
    from every document (CCNet removes paragraphs duplicated across the
    corpus; the reference engine has no corpus-level notion — this is a
    training-pipeline addition).  Scale shape: explode lines (narrow) →
    map-side-combined count per distinct line → the *removal set* (lines
    over threshold — a tiny fraction of distinct lines on real corpora)
    joins back against the exploded lines, so AQE broadcasts it and the
    100-TB side shuffles once, for the per-document reassembly.  Empty /
    whitespace-only lines are structure, not boilerplate: never removed,
    so the operator is idempotent and byte-preserving for clean docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_REP_FIELDS = (
    "n_words int, dup_word_frac double, top_word string, "
    "top_word_frac double, dup_2gram_frac double, top_2gram string, "
    "top_2gram_frac double"
)

# Java-regex-\s token runs (ASCII whitespace only — see the tokenization
# contract on with_repetition_stats); compiled once per Python worker
_TOKEN_RE_ASCII_WS = "[^ \t\n\x0b\f\r]+"


def _rep_signals_pdf(texts) -> dict:
    """Per-batch repetition signals — plain dict of columns (pandas-free
    math; Counter is the hot loop)."""
    import re
    from collections import Counter

    tok = re.compile(_TOKEN_RE_ASCII_WS)
    cols = {k: [] for k in (
        "n_words", "dup_word_frac", "top_word", "top_word_frac",
        "dup_2gram_frac", "top_2gram", "top_2gram_frac",
    )}
    for text in texts:
        # isinstance guard: Arrow NULL strings arrive as None (object
        # dtype) but a float NaN would be truthy — treat both as empty
        w = tok.findall(text) if isinstance(text, str) else []
        n = len(w)
        cols["n_words"].append(n)
        if n == 0:
            cols["dup_word_frac"].append(0.0)
            cols["top_word"].append(None)
            cols["top_word_frac"].append(0.0)
        else:
            cw = Counter(w)
            cols["dup_word_frac"].append((n - len(cw)) / n)
            m = max(cw.values())
            cols["top_word"].append(min(k for k, v in cw.items() if v == m))
            cols["top_word_frac"].append(m / n)
        if n < 2:
            cols["dup_2gram_frac"].append(0.0)
            cols["top_2gram"].append(None)
            cols["top_2gram_frac"].append(0.0)
        else:
            g = [w[i] + " " + w[i + 1] for i in range(n - 1)]
            ng = len(g)
            cg = Counter(g)
            cols["dup_2gram_frac"].append((ng - len(cg)) / ng)
            m = max(cg.values())
            cols["top_2gram"].append(min(k for k, v in cg.items() if v == m))
            cols["top_2gram_frac"].append(m / ng)
    return cols


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append word-repetition quality signals (Gopher §A1.1 family):

    - ``n_words``          whitespace word count
    - ``dup_word_frac``    1 − distinct words / words   (0 when empty)
    - ``top_word``         most frequent word (ties → lexicographically
                           smallest; NULL when empty)
    - ``top_word_frac``    its count / n_words
    - ``dup_2gram_frac``   1 − distinct 2-grams / 2-grams (0 when < 2)
    - ``top_2gram``        most frequent adjacent 2-gram (NULL when < 2)
    - ``top_2gram_frac``   its count / n_2grams

    One ``mapInPandas`` with a ``collections.Counter`` per document: a
    zero-shuffle narrow map with Arrow-batched transfer; all input
    columns pass through and the 7 signal columns are appended per
    batch.  The DuckDB oracle of the ``repetition_stats`` registry query
    checks it value for value.

    Tokenization contract (shared with the SQL oracle and
    ``textstats.ws_tokens``): a token is a maximal run of
    non-``[ \\t\\n\\x0b\\f\\r]`` characters — ``re.findall`` of that
    class, NOT Python ``str.split()``, whose Unicode whitespace set is
    wider (nbsp does not split); edge whitespace yields no empty token;
    NULL text counts as empty.  Tie-breaks take the minimum string, and
    Python's code-point order equals UTF-8 byte order (Spark's binary
    sort) on every valid string.
    """
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", " + _REP_FIELDS

    def gen(batches):
        for pdf in batches:
            sig = _rep_signals_pdf(pdf[text_col].tolist())
            for k, v in sig.items():
                pdf[k] = v
            yield pdf

    return df.mapInPandas(gen, schema)


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_docs: int = 2,
) -> DataFrame:
    """Remove lines that occur in more than ``max_docs`` distinct docs.

    Returns one row per input document: ``(id_col, text, n_lines,
    n_removed)`` with ``text`` rebuilt from the surviving lines in
    original order ('' when every line was boilerplate).  NULL text is
    treated as '' (the document survives — a curation pass must never
    silently drop rows).  Lines compare byte-exact; ``split(text,
    '\\n', -1)`` keeps trailing empties so the round trip is loss-free
    for kept lines.  Empty and whitespace-only lines (full ASCII
    whitespace class, not just spaces) are never removed, so document
    structure survives even when blank separators are corpus-universal.

    Plan shape (the 100-TB question): one partial-agg shuffle over
    distinct lines to build the removal set, which is then LEFT-joined
    (AQE-broadcast when small, as it is on real corpora — boilerplate is
    rare among *distinct* lines) onto the exploded lines, and one final
    shuffle on ``id_col`` for reassembly.  The corpus never shuffles on
    the raw line key for the join, so a mega-hot boilerplate line skews
    only the count aggregation, where map-side combine absorbs it.
    """
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n", -1)
    exploded = df.select(
        F.col(id_col), F.posexplode(lines).alias("pos", "line")
    )
    # whitespace-ONLY lines are never removal candidates, under the full
    # whitespace class — Spark's trim strips ASCII spaces only, which would
    # let a shared tab-only line be removed (ADVICE r3); \n cannot appear
    # inside a line (we split on it), so the class omits it
    removal = (
        exploded.filter(
            F.regexp_replace(F.col("line"), r"[ \t\x0b\f\r]", "") != ""
        )
        .groupBy("line")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") > max_docs)
        .select("line", F.lit(True).alias("boiler"))
    )
    marked = exploded.join(removal, "line", "left").select(
        id_col, "pos", "line", F.coalesce("boiler", F.lit(False)).alias("boiler")
    )
    rebuilt = (
        marked.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "line", "boiler"))
            ).alias("parts")
        )
        .select(
            id_col,
            F.array_join(
                F.transform(
                    F.filter(F.col("parts"), lambda p: ~p["boiler"]),
                    lambda p: p["line"],
                ),
                "\n",
            ).alias(text_col),
            F.size("parts").alias("n_lines"),
            F.size(F.filter(F.col("parts"), lambda p: p["boiler"])).alias(
                "n_removed"
            ),
        )
    )
    return rebuilt


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# (name, pattern, replacement) — applied in order.  The patterns are
# deliberately simple and engine-portable (no lookaround, no \b, ASCII
# classes only — identical semantics under Java regex and RE2, the
# whitespace-class lesson of round 3); production deployments drop in
# their own battle-tested pattern set through the same chain.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]+", "<EMAIL>"),
    ("ip", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    ("phone", r"\+[0-9]{7,15}", "<PHONE>"),
]


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact PII spans (emails, IPv4s, international phone numbers) and
    count them per document — the scrubbing stage every public
    training-data pipeline runs before release (e.g. Dolma, "Dolma: an
    Open Corpus of Three Trillion Tokens...", Soldaini et al. 2024, §2
    anonymization; the reference engine has no corpus-release notion —
    this is a training-pipeline addition).

    Scale shape: pure column expressions — ``regexp_count`` on the
    ORIGINAL text per category (counts are independent raw tallies, not
    what the sequential redaction chain happened to leave), then one
    chained ``regexp_replace`` per pattern.  Zero shuffle, zero Python:
    the whole operator lives inside whole-stage codegen, so at 100 TB it
    rides the same single corpus pass as the rest of the quality gates.
    """
    counts = [
        F.regexp_count(F.coalesce(F.col(text_col), F.lit("")), F.lit(pat))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    clean = F.coalesce(F.col(text_col), F.lit(""))
    for _, pat, repl in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    return df.select(*df.columns, *counts, clean.alias("clean_text"))


def with_compression_ratio(
    df: DataFrame, text_col: str = "text", level: int = 6
) -> DataFrame:
    """Append the zlib compression-ratio quality signal (RefinedWeb /
    MassiveText lineage: highly compressible text is repeated
    boilerplate, incompressible "text" is junk/binary — both gate well
    at corpus scale; public papers: "The RefinedWeb Dataset for Falcon
    LLM", Penedo et al. 2023, and Gopher's repetition family which this
    complements with a single scalar).

    Columns added per document (NULL text = ''):

    - ``raw_len``     utf-8 byte length
    - ``comp_len``    ``len(zlib.compress(utf8, level))``
    - ``comp_ratio``  comp_len / raw_len (1.0 when empty — neutral, so
                      empty docs neither gate as boilerplate nor junk)

    Scale shape: one Arrow ``mapInPandas`` narrow map, zero shuffle —
    identical to the repetition-stats lane it normally runs beside.
    zlib is per-row CPython, but compression IS the operator; there is
    no JVM-side twin worth having (Spark has no compress() expression),
    and the Arrow batch path is the sanctioned one for exactly this
    case.  Deterministic for a fixed zlib level (the default is pinned
    so engine and any oracle agree byte-for-byte).
    """
    import zlib

    sch = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", raw_len bigint, comp_len bigint, comp_ratio double"

    def _batches(it):
        for pdf in it:
            raw_lens, comp_lens, ratios = [], [], []
            for t in pdf[text_col]:
                b = (t or "").encode("utf-8")
                c = len(zlib.compress(b, level))
                raw_lens.append(len(b))
                comp_lens.append(c)
                ratios.append(c / len(b) if b else 1.0)
            pdf = pdf.copy()
            pdf["raw_len"] = raw_lens
            pdf["comp_len"] = comp_lens
            pdf["comp_ratio"] = ratios
            yield pdf

    return df.mapInPandas(_batches, schema=sch)
