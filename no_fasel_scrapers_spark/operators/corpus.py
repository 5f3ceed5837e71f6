"""Corpus curation operators: decontamination, deterministic sampling,
vocabulary statistics.

Three training-data-pipeline steps every large-scale corpus build needs
and the dedup family (``operators/dedup.py``) does not cover:

* **Decontamination** — flag training documents that share word n-grams
  with an evaluation/test set (the standard n-gram-collision
  decontamination from the GPT-3/PaLM appendices, public literature).
  Spark shape: the test set's distinct gram hashes are small (eval sets
  are ≪ training corpora) and broadcast; the 100-TB training side is one
  narrow pass (gram → hash → explode) into a broadcast-hash semi-join, so
  the big side never shuffles — only the matched hits (tiny) aggregate.
* **Deterministic hash sampling** — Bernoulli / stratified sampling keyed
  on ``xxhash64(seed, key)`` rather than an RNG: reproducible across
  retries, executors and cluster sizes (a task retry re-samples the SAME
  rows, unlike ``df.sample`` whose per-partition RNG changes under
  repartitioning).  Pure column expressions, zero shuffle, fully pushed
  into the scan stage.
* **Vocabulary stats** — per-term document frequency + deterministic
  top-k: one explode + one map-side-combined shuffle on term, then
  TakeOrderedAndProject.  Feeds stopword lists and quality heuristics.

Reference parity note: the reference engine has none of these (its only
corpus-level op is the exact URL-seen join, ``Common.py``); this module is
part of the training-data surface the engine adds (SURVEY §2
"LLM-data-pipeline operators").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import word_ngrams

__all__ = [
    "decontaminate",
    "sample_by_hash",
    "sample_stratified",
    "vocab_top_terms",
]

_BUCKETS = 1_000_000  # sampling resolution: 1e-6 fraction granularity


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Flag training docs sharing ≥ ``min_hits`` word n-grams with ``test``.

    Output: ``(id_col, n_grams, hit_grams, contaminated)`` for every
    training doc.  ``n_grams`` counts the doc's distinct grams,
    ``hit_grams`` how many of them occur anywhere in the test set.

    Grams are distinct per doc (``word_ngrams`` dedups), so ``hit_grams``
    is a distinct-collision count, not an occurrence count.  NULL/empty
    text yields ``n_grams = 0`` and is never contaminated.
    """
    # word_ngrams(NULL) yields [NULL] (split-of-NULL semantics), and
    # xxhash64(NULL) degenerates to the seed constant — two NULL-text docs
    # would "share" that pseudo-gram.  Filter NULL grams out so NULL/empty
    # text means zero grams on BOTH sides.
    def grams_of(col):
        return F.filter(word_ngrams(col, n), lambda g: g.isNotNull())

    test_grams = (
        test.select(F.explode(grams_of(F.col(text_col))).alias("g"))
        .select(F.xxhash64("g").alias("gram_hash"))
        .distinct()
    )
    grams = train.select(
        F.col(id_col),
        F.transform(
            grams_of(F.col(text_col)), lambda s: F.xxhash64(s)
        ).alias("gram_hashes"),
    )
    # Single pass over the training text: gram construction (the expensive
    # step at 100 TB) runs exactly once; explode_outer keeps zero-gram docs
    # (NULL text) as one NULL row so every doc survives the groupBy.  The
    # per-doc shuffle rows collapse map-side (a doc's grams live in one
    # input row, hence one partition), so the exchange carries ~|docs|
    # tiny rows, not |grams|.
    exploded = grams.select(
        id_col,
        F.size("gram_hashes").alias("n_grams_row"),
        F.explode_outer("gram_hashes").alias("gram_hash"),
    )
    return (
        exploded.join(
            F.broadcast(test_grams.withColumn("__hit", F.lit(1))),
            "gram_hash",
            "left",
        )
        .groupBy(id_col)
        .agg(
            F.coalesce(F.max("n_grams_row"), F.lit(0)).alias("n_grams"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("hit_grams"),
        )
        .withColumn("contaminated", F.col("hit_grams") >= F.lit(min_hits))
    )


def _bucket(key_col: str, seed: int):
    """Deterministic bucket in [0, 1e6): pmod(xxhash64(seed, key), 1e6)."""
    return F.pmod(
        F.xxhash64(F.lit(seed).cast("long"), F.col(key_col)),
        F.lit(_BUCKETS),
    )


def sample_by_hash(
    df: DataFrame, key_col: str, fraction: float, seed: int = 0
) -> DataFrame:
    """Keep rows whose hash bucket falls below ``fraction`` — deterministic
    Bernoulli sampling, stable under retries/repartitioning/cluster size.
    The predicate is a pure column expression (pushes into the scan)."""
    return df.where(_bucket(key_col, seed) < F.lit(int(round(fraction * _BUCKETS))))


def sample_stratified(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. per-language quotas).

    ``fractions`` maps stratum value → keep fraction; strata absent from
    the map use ``default_fraction``.  Same hash-bucket scheme as
    :func:`sample_by_hash`, one pure-column predicate, zero shuffle.
    """
    thr = F.create_map(
        *[
            x
            for val, frac in sorted(fractions.items())
            for x in (F.lit(val), F.lit(int(round(frac * _BUCKETS))))
        ]
    )
    limit = F.coalesce(
        thr[F.col(strata_col)],
        F.lit(int(round(default_fraction * _BUCKETS))),
    )
    return df.where(_bucket(key_col, seed) < limit)


def vocab_top_terms(
    df: DataFrame, text_col: str = "text", k: int = 100
) -> DataFrame:
    """Top-k terms by document frequency: ``(term, doc_freq)``.

    Terms are whitespace tokens of lowercased text, distinct per doc, so
    ``doc_freq`` counts documents, not occurrences.  Deterministic order
    (doc_freq DESC, term ASC) makes the top-k boundary reproducible.
    One narrow explode, one map-side-combined shuffle on term, then
    TakeOrderedAndProject — no global sort materialization.
    """
    terms = df.select(
        F.explode(
            F.array_distinct(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            )
        ).alias("term")
    ).where(F.col("term") != "")
    return (
        terms.groupBy("term")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("term").asc())
        .limit(k)
    )
