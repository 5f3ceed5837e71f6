"""Partitioned URL-seen filter: bloom blobs with an exact backstop.

The reference's incremental dedup is a Python dict membership test before
each fetch (``FaselMoviesScraper.py:28-31`` and friends, O10).  At 10^10-URL
scale the seen set can't be a broadcast dict OR a full shuffle join per
wave; this operator is the scale path:

1. the seen set is summarized into per-shard **bloom blobs** (numpy bitsets,
   one per ``pmod(url_hash, n_shards)``), built distributed with
   ``applyInPandas`` and checkpointed to the catalog each wave.  Each
   wave's keys are ORed into the standing blobs: on the driver
   (:func:`or_into_shard_map`, no Spark job) while the filter fits the
   broadcast probe, by one shard cogroup (:func:`update_filter_blobs`)
   beyond it;
2. candidate URLs probe the blobs inside ``mapInPandas`` (vectorized numpy,
   no per-row Python) — *bloom-negative rows are definitely new* and skip
   the expensive path entirely (the predicate-pushdown analog: cheap
   membership before the join, SURVEY.md §4).  Blobs reach the probe as a
   Spark broadcast variable (≤512 MB of filter, shipped from the
   driver-held :data:`ShardMap`) or a shard cogroup (beyond), NEVER as a
   joined-on column: attaching a blob to each row ships
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
from typing import Iterable, Iterator, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOB_SCHEMA = "shard int, bits binary, n_items long, m long, k int"
# the same schema for blob tables the driver writes with pyarrow
_BLOB_ARROW = pa.schema([
    ("shard", pa.int32()), ("bits", pa.binary()), ("n_items", pa.int64()),
    ("m", pa.int64()), ("k", pa.int32()),
])
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


def _set_bits(bits: np.ndarray, hashes: np.ndarray, m: int, k: int) -> None:
    """Set the k bloom positions of every hash in ``bits``, in place."""
    if len(hashes):
        for pos in _bloom_positions(hashes, m, k):
            np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def build_bloom(hashes: np.ndarray, m: int, k: int) -> bytes:
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    _set_bits(bits, hashes, m, k)
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


class ShardBlob(NamedTuple):
    """One shard's blob, held on the driver."""

    m: int
    k: int
    bits: bytes
    n_items: int


# The whole filter on the driver, {shard: ShardBlob}: what the broadcast
# probe ships, and what a crawl keeps between waves while the filter fits
# the broadcast path.
ShardMap = dict[int, ShardBlob]

def _shard_map(rows: Iterable) -> ShardMap:
    return {
        int(r["shard"]): ShardBlob(
            int(r["m"]), int(r["k"]), bytes(r["bits"]), int(r["n_items"])
        )
        for r in rows
    }


def collect_shard_map(blobs: DataFrame) -> ShardMap:
    """Blob rows → driver map (one collect of n_shards rows)."""
    return _shard_map(blobs.select(*_BLOB_ARROW.names).collect())


def read_shard_map(path: str) -> ShardMap:
    """Blob snapshot directory → driver map, read by pyarrow (no job)."""
    return _shard_map(
        pq.read_table(path, columns=_BLOB_ARROW.names).to_pylist()
    )


def shard_map_table(blobs: ShardMap) -> pa.Table:
    """Driver map → a ``BLOB_SCHEMA`` arrow table, shard order."""
    shards = sorted(blobs)
    return pa.table(
        [
            shards,
            [blobs[s].bits for s in shards],
            [blobs[s].n_items for s in shards],
            [blobs[s].m for s in shards],
            [blobs[s].k for s in shards],
        ],
        schema=_BLOB_ARROW,
    )


def or_into_shard_map(
    blobs: ShardMap,
    url_hash: np.ndarray,
    n_shards: int,
    n_expected_per_shard: int,
) -> ShardMap:
    """:func:`update_filter_blobs` on the driver: a new map with the keys
    ORed in, bit for bit the cogroup's result.  A shard the map lacks
    starts empty; a blob with another (m, k) raises."""
    m, k = bloom_params(n_expected_per_shard)
    for s, b in blobs.items():
        if (b.m, b.k) != (m, k):
            raise ValueError(
                f"shard {s}: cannot OR-merge blobs with different (m, k)"
                f" — rebuild with a pinned n_expected_per_shard"
            )
    h64 = np.asarray(url_hash, dtype=np.int64)
    # numpy % with a positive modulus matches F.pmod
    shards = h64 % n_shards
    out = dict(blobs)
    for s in np.unique(shards).tolist():
        h = h64[shards == s].astype(np.uint64)
        old = blobs.get(s)
        bits = (
            np.zeros((m + 7) // 8, dtype=np.uint8)
            if old is None
            else np.frombuffer(old.bits, dtype=np.uint8).copy()
        )
        _set_bits(bits, h, m, k)
        out[s] = ShardBlob(
            m, k, bits.tobytes(), (0 if old is None else old.n_items) + len(h)
        )
    return out


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
    blobs: DataFrame | ShardMap,
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

    ``blobs`` may also be a :data:`ShardMap` the caller already holds on
    the driver; it probes by broadcast, with no collect.  Either way
    :func:`probe_bloom` runs vectorized numpy per batch/group.
    """
    held = isinstance(blobs, dict)
    if strategy == "auto":
        strategy = (
            "broadcast"
            if held or _filter_bytes(blobs) <= BROADCAST_MAX_BYTES
            else "cogroup"
        )
    if strategy not in ("broadcast", "cogroup"):
        raise ValueError(f"unknown blob probe strategy: {strategy!r}")
    if held and strategy == "cogroup":
        raise ValueError("a driver-held shard map probes by broadcast only")

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    ) + ", maybe_seen boolean"
    cand_cols = [f.name for f in candidates.schema.fields]

    if strategy == "broadcast":
        shard_map = blobs if held else collect_shard_map(blobs)
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
                        idx = np.nonzero(shards == s)[0]
                        maybe[idx] = probe_bloom(
                            ent.bits, h[idx], ent.m, ent.k
                        )
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
    blobs: DataFrame | ShardMap | None,
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
