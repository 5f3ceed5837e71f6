"""Partitioned URL-seen filter: bloom blobs with an exact backstop.

The reference's incremental dedup is a Python dict membership test before
each fetch (``FaselMoviesScraper.py:28-31`` and friends, O10).  At 10^10-URL
scale the seen set can't be a broadcast dict OR a full shuffle join per
wave; this operator is the scale path:

1. the seen set is summarized into per-shard **bloom blobs** (numpy bitsets,
   one per ``pmod(url_hash, n_shards)``), built distributed with
   ``applyInPandas`` and checkpointed to the catalog each wave;
2. candidate URLs probe the blobs inside ``mapInPandas`` (vectorized numpy,
   no per-row Python) — *bloom-negative rows are definitely new* and skip
   the expensive path entirely (the predicate-pushdown analog: cheap
   membership before the join, SURVEY.md §4).  Blobs reach the probe as a
   Spark broadcast variable (≤512 MB of filter) or a shard cogroup (beyond),
   NEVER as a joined-on column: attaching a blob to each row ships
   O(rows × blob bytes) — measured superlinear on the 3M-page site crawl;
3. only bloom-positive rows (true seen + fpp false positives) go through the
   exact ``left_anti`` join backstop, so correctness never depends on fpp.

Recrawl invalidation deletes from the exact seen set only: the invalidated
keys' bloom bits stay set, and the backstop lets those keys through.

Sizing: ``BITS_PER_KEY = 10`` → ~1% fpp at design load; blob bytes per
shard = ``n_expected / n_shards * 10 / 8``.  For 10^10 keys and 4096
shards that is ~3 MB/shard — within executor memory, shipped once per
task by the shard-cogroup probe path.
"""

from __future__ import annotations

import math
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOB_SCHEMA = "shard int, bits binary, n_items long, m long, k int"
BITS_PER_KEY = 10


def _h2(h: np.ndarray) -> np.ndarray:
    """Second hash by 31-bit rotation of the (uint64) key hash."""
    return ((h >> np.uint64(33)) | (h << np.uint64(31))) & np.uint64(0xFFFFFFFFFFFFFFFF)


def _bloom_positions(h: np.ndarray, m: int, k: int) -> Iterator[np.ndarray]:
    """k index arrays via double hashing: pos_i = (h1 + i*h2) mod m."""
    h1 = h.astype(np.uint64)
    h2 = _h2(h1)
    for i in range(k):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(m)).astype(np.int64)


def build_bloom(hashes: np.ndarray, m: int, k: int) -> bytes:
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    if len(hashes):
        for pos in _bloom_positions(hashes, m, k):
            np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return bits.tobytes()


def probe_bloom(blob: bytes, hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """Boolean mask: True = maybe present (no false negatives)."""
    bits = np.frombuffer(blob, dtype=np.uint8)
    out = np.ones(len(hashes), dtype=bool)
    for pos in _bloom_positions(hashes, m, k):
        out &= (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return out


def bloom_params(n_expected: int) -> tuple[int, int]:
    m = max(64, n_expected * BITS_PER_KEY)
    k = max(1, round(BITS_PER_KEY * math.log(2)))
    return m, k


def build_filter_blobs(
    seen: DataFrame,
    n_shards: int = 32,
    n_expected_per_shard: int | None = None,
) -> DataFrame:
    """seen(url_hash) → blobs(shard, bits, ...) built with applyInPandas.

    One shuffle on ``shard`` (narrow — one long per row), then blob build is
    partition-local numpy.  By default per-shard m sizes from the shard's
    own count; pass ``n_expected_per_shard`` to pin (m, k) so blobs built
    from different inputs (e.g. per-wave deltas) are OR-mergeable via
    :func:`update_filter_blobs`.  Exceeding the expected count only degrades
    fpp — the exact anti-join backstop keeps dedup exact regardless.
    """
    keyed = seen.select(
        "url_hash",
        F.pmod("url_hash", F.lit(n_shards)).cast("int").alias("shard"),
    )

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["url_hash"].to_numpy(dtype=np.int64).astype(np.uint64)
        m, k = bloom_params(
            n_expected_per_shard
            if n_expected_per_shard is not None
            else max(len(h), 1)
        )
        return pd.DataFrame(
            [{
                "shard": int(pdf["shard"].iloc[0]),
                "bits": build_bloom(h, m, k),
                "n_items": len(h),
                "m": m,
                "k": k,
            }]
        )

    return keyed.groupBy("shard").applyInPandas(_build, schema=BLOB_SCHEMA)


def update_filter_blobs(
    blobs: DataFrame, delta: DataFrame, n_shards: int, n_expected_per_shard: int
) -> DataFrame:
    """OR a delta's url_hash keys into blobs built with pinned (m, k).

    The incremental path for a long crawl: O(filter bytes) per wave instead
    of an O(|seen|) rebuild, as ONE cogroup per shard of standing blob and
    delta keys.  A shard missing from the blobs starts empty; a blob with
    another (m, k) (e.g. a legacy auto-sized one) raises, since ORing
    differently-sized bitsets would corrupt membership."""
    m, k = bloom_params(n_expected_per_shard)
    shard = F.pmod("url_hash", F.lit(n_shards)).cast("int").alias("shard")

    def _or(key, blob_pdf: pd.DataFrame, keys_pdf: pd.DataFrame):
        if (blob_pdf["m"] != m).any() or (blob_pdf["k"] != k).any():
            raise ValueError(
                f"shard {key[0]}: cannot OR-merge blobs with different (m, k)"
                f" — rebuild with a pinned n_expected_per_shard"
            )
        h = keys_pdf["url_hash"].to_numpy(dtype=np.int64).astype(np.uint64)
        bits = np.frombuffer(build_bloom(h, m, k), dtype=np.uint8).copy()
        for blob in blob_pdf["bits"]:
            bits |= np.frombuffer(blob, dtype=np.uint8)
        return pd.DataFrame(
            [{
                "shard": int(key[0]), "bits": bits.tobytes(),
                "n_items": int(blob_pdf["n_items"].sum()) + len(h),
                "m": m, "k": k,
            }]
        )

    return (
        blobs.groupBy("shard")
        .cogroup(delta.select("url_hash").groupBy(shard))
        .applyInPandas(_or, schema=BLOB_SCHEMA)
    )


# "auto" strategy cutover: collect + Spark-broadcast the whole filter up to
# this many bytes (512 MB ≈ 4×10^8 keys at 10 bits/key); past that, the
# shard-cogroup path keeps every blob off the driver.
BROADCAST_MAX_BYTES = 512 << 20


def _filter_bytes(blobs: DataFrame) -> int:
    """Total filter size — an n_shards-row agg, one tiny job."""
    row = blobs.agg(F.sum(F.length("bits")).alias("b")).collect()[0]
    return int(row["b"] or 0)


def mark_maybe_seen(
    candidates: DataFrame,
    blobs: DataFrame,
    n_shards: int = 32,
    strategy: str = "auto",
) -> DataFrame:
    """Attach ``maybe_seen`` to candidates by probing the bloom blobs.

    Bloom-negative rows are guaranteed-new; only maybe_seen rows need the
    exact backstop.  The one thing this must NEVER do is attach blob bytes
    to candidate rows: a per-row join ships O(rows × blob) bytes through
    the join output and the Arrow boundary — measured superlinear on the
    generated 3M-page site crawl (per-page core-ms tripled when the filter
    tripled; ~700 GB of duplicated blob bytes in one wave).  Instead:

    - ``broadcast``: the n_shards blob rows are collected once and shipped
      as a Spark broadcast variable (one torrent copy per executor);
      candidates stream through mapInPandas untouched — zero shuffle,
      zero per-row blob bytes.
    - ``cogroup``: candidates shuffle on shard and cogroup with the blob
      table, so each task materializes its shard's blob exactly once.
      The scale path once the whole filter outgrows a driver collect
      (10^10 keys × 1.25 B ≈ 12.5 GB — size n_shards ≥ 4096 there so
      per-task groups stay executor-memory-bounded).
    - ``auto``: broadcast while the filter totals ≤ ``BROADCAST_MAX_BYTES``
      (one n_shards-row agg job), else cogroup.

    Either way :func:`probe_bloom` runs vectorized numpy per batch/group.
    """
    if strategy == "auto":
        strategy = (
            "broadcast"
            if _filter_bytes(blobs) <= BROADCAST_MAX_BYTES
            else "cogroup"
        )
    if strategy not in ("broadcast", "cogroup"):
        raise ValueError(f"unknown blob probe strategy: {strategy!r}")

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    ) + ", maybe_seen boolean"
    cand_cols = [f.name for f in candidates.schema.fields]

    if strategy == "broadcast":
        shard_map = {
            int(r["shard"]): (int(r["m"]), int(r["k"]), bytes(r["bits"]))
            for r in blobs.select("shard", "m", "k", "bits").collect()
        }
        bc = candidates.sparkSession.sparkContext.broadcast(shard_map)

        def _probe(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            tbl = bc.value
            for pdf in batches:
                res = pdf[cand_cols].copy()
                maybe = np.zeros(len(pdf), dtype=bool)
                if len(pdf):
                    h64 = pdf["url_hash"].to_numpy(dtype=np.int64)
                    # numpy % with a positive modulus matches F.pmod
                    shards = h64 % n_shards
                    h = h64.astype(np.uint64)
                    for s in np.unique(shards):
                        ent = tbl.get(int(s))
                        if ent is None:
                            continue
                        m, k, blob = ent
                        idx = np.nonzero(shards == s)[0]
                        maybe[idx] = probe_bloom(blob, h[idx], m, k)
                res["maybe_seen"] = maybe
                yield res

        return candidates.mapInPandas(_probe, schema=out_schema)

    withshard = candidates.withColumn(
        "__shard", F.pmod("url_hash", F.lit(n_shards)).cast("int")
    )

    def _probe_grp(key, cand_pdf: pd.DataFrame, blob_pdf: pd.DataFrame):
        res = cand_pdf[cand_cols].copy()
        maybe = np.zeros(len(cand_pdf), dtype=bool)
        if len(cand_pdf) and len(blob_pdf):
            row = blob_pdf.iloc[0]
            h = cand_pdf["url_hash"].to_numpy(dtype=np.int64).astype(np.uint64)
            maybe = probe_bloom(
                bytes(row["bits"]), h, int(row["m"]), int(row["k"])
            )
        res["maybe_seen"] = maybe
        return res

    return (
        withshard.groupBy("__shard")
        .cogroup(blobs.groupBy("shard"))
        .applyInPandas(_probe_grp, schema=out_schema)
    )


def dedup_against_seen(
    candidates: DataFrame,
    seen: DataFrame | None,
    blobs: DataFrame | None,
    n_shards: int = 32,
    broadcast_hint: bool = True,
    blob_strategy: str = "auto",
) -> DataFrame:
    """New-only candidates: bloom pre-filter + exact backstop.

    ``seen`` may be None/empty (first wave).  The exact check never
    shuffles the seen set: a left-semi streams seen once and keeps only
    hashes that occur in the wave, and the anti-join then runs against
    that small hit set.  ``broadcast_hint=True`` pins the broadcast (right
    when candidates are known budget-bounded); with ``False`` the strategy
    is left to AQE, which still broadcasts small runtime sizes but can
    fall back instead of exceeding the broadcast cap on an unbounded
    candidate set.

    With blobs, the bloom probe runs EXACTLY ONCE, inside the broadcast-
    side subquery that computes the hit set: bloom-positive (suspect) keys
    are left-semi'd against seen — at design fpp that is
    |true seen ∩ wave| + ~1% of the rest — and the final plan is one
    anti-join of the UNTOUCHED candidate stream against that hit set.
    Bloom-negative rows cannot be in ``seen`` (no false negatives), so
    they pass the anti-join by construction.  The previous formulation
    (union of a fresh branch and an anti-joined suspect branch) evaluated
    the probe map once per branch plus once for the hit subquery — three
    wave scans where one suffices.
    """
    if seen is None:
        return candidates

    def _hint(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_hint else df

    if blobs is not None:
        keys = (
            mark_maybe_seen(
                candidates, blobs, n_shards, strategy=blob_strategy
            )
            .filter(F.col("maybe_seen"))
            .select("url_hash")
            .distinct()
        )
    else:
        keys = candidates.select("url_hash").distinct()
    hits = seen.select("url_hash").join(_hint(keys), "url_hash", "left_semi")
    return candidates.join(_hint(hits), "url_hash", "left_anti")
