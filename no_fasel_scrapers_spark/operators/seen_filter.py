"""Partitioned URL-seen filter: bloom blobs with an exact backstop.

The reference's incremental dedup is a Python dict membership test before
each fetch (``FaselMoviesScraper.py:28-31`` and friends, O10).  At 10^10-URL
scale the seen set can't be a broadcast dict OR a full shuffle join per
wave; this operator is the scale path:

1. the seen set is summarized into per-shard **bloom blobs** (numpy bitsets,
   one per ``pmod(url_hash, n_shards)``), built distributed with
   ``applyInPandas`` and checkpointed to the catalog each wave.  The filter
   lives in one of two forms, picked here once from the pinned sizing
   (``expected_urls * BITS_PER_KEY / 8`` bytes, see :class:`CrawlFilter`):
   held on the driver as a :data:`ShardMap` up to
   :data:`BROADCAST_MAX_BYTES`, a blob-table DataFrame beyond it.  Each
   wave's keys are ORed into the standing blobs in the form's own way: on
   the driver (:func:`or_into_shard_map`, no Spark job) or by one shard
   cogroup (:func:`update_filter_blobs`);
2. candidate URLs probe the blobs inside ``mapInPandas`` (vectorized numpy,
   no per-row Python) — *bloom-negative rows are definitely new* and skip
   the expensive path entirely (the predicate-pushdown analog: cheap
   membership before the join, SURVEY.md §4).  The form chooses the probe:
   a held map ships as a Spark broadcast variable, a blob table meets the
   candidates in a shard cogroup — NEVER as a joined-on column: attaching
   a blob to each row ships O(rows × blob bytes) — measured superlinear on
   the 3M-page site crawl;
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
from collections.abc import Callable, Iterable, Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BLOB_SCHEMA = "shard int, bits binary, n_items long, m long, k int"
# the same schema for blob tables the driver writes with pyarrow
_BLOB_ARROW = pa.schema([
    ("shard", pa.int32()), ("bits", pa.binary()), ("n_items", pa.int64()),
    ("m", pa.int64()), ("k", pa.int32()),
])
# the key column of a published seen snapshot, as the held update reads it
_URL_HASH_SCHEMA = pa.schema([("url_hash", pa.int64())])
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
    delta keys (:func:`_or_shard` per shard)."""
    m, k = bloom_params(n_expected_per_shard)
    shard = F.pmod("url_hash", F.lit(n_shards)).cast("int").alias("shard")

    def _or(key, blob_pdf: pd.DataFrame, keys_pdf: pd.DataFrame):
        h = keys_pdf["url_hash"].to_numpy(dtype=np.int64).astype(np.uint64)
        standing = map(
            ShardBlob, blob_pdf["m"], blob_pdf["k"], blob_pdf["bits"],
            blob_pdf["n_items"],
        )
        b = _or_shard(int(key[0]), standing, h, m, k)
        return pd.DataFrame(
            [{
                "shard": int(key[0]), "bits": b.bits, "n_items": b.n_items,
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


# The whole filter on the driver, {shard: ShardBlob}: the held form, which
# the probe ships as a Spark broadcast variable.
ShardMap = dict[int, ShardBlob]
# The standing filter in either form: held, or a blob table (BLOB_SCHEMA).
SeenFilter = ShardMap | DataFrame


def _or_shard(
    shard: int, standing: Iterable[ShardBlob], h: np.ndarray, m: int, k: int
) -> ShardBlob:
    """One shard's standing blobs with the keys ``h`` ORed in.  No
    standing blob starts the shard empty; one with another (m, k) (e.g. a
    legacy auto-sized one) raises, since ORing differently-sized bitsets
    would corrupt membership."""
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    n_items = len(h)
    for b in standing:
        if (b.m, b.k) != (m, k):
            raise ValueError(
                f"shard {shard}: cannot OR-merge blobs with different (m, k)"
                f" — rebuild with a pinned n_expected_per_shard"
            )
        bits |= np.frombuffer(b.bits, dtype=np.uint8)
        n_items += int(b.n_items)
    _set_bits(bits, h, m, k)
    return ShardBlob(m, k, bits.tobytes(), n_items)


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
    ORed in, bit for bit the cogroup's result.  Only the shards the keys
    touch are rebuilt (:func:`_or_shard`); the rest pass through."""
    m, k = bloom_params(n_expected_per_shard)
    h64 = np.asarray(url_hash, dtype=np.int64)
    # numpy % with a positive modulus matches F.pmod
    shards = h64 % n_shards
    out = dict(blobs)
    for s in np.unique(shards).tolist():
        old = [blobs[s]] if s in blobs else []
        out[s] = _or_shard(s, old, h64[shards == s].astype(np.uint64), m, k)
    return out


# The held form's ceiling: a filter of up to this many bytes (512 MB ≈
# 4×10^8 keys at 10 bits/key) stays on the driver and probes by broadcast;
# past it, the blob table and the shard cogroup keep every blob off the
# driver.
BROADCAST_MAX_BYTES = 512 << 20


def blob_sizings(path: str) -> set[tuple[int, int]]:
    """The distinct (m, k) of a blob snapshot, read by pyarrow (no job)."""
    t = pq.read_table(path, columns=["m", "k"])
    return set(zip(t["m"].to_pylist(), t["k"].to_pylist()))


class CrawlFilter:
    """A crawl's standing filter operations for one pinned sizing.

    The form is picked here, once, from the pinned sizing: held on the
    driver while ``expected_urls * BITS_PER_KEY // 8 <=
    BROADCAST_MAX_BYTES``, a blob table beyond it.  Each operation takes
    and returns the filter in that form, so a caller never branches on it.
    """

    def __init__(self, n_shards: int, expected_urls: int):
        self.n_shards = n_shards
        self.n_per_shard = max(1, expected_urls // n_shards)
        # the (m, k) every blob of this filter carries
        self.sizing = bloom_params(self.n_per_shard)
        self.held = expected_urls * BITS_PER_KEY // 8 <= BROADCAST_MAX_BYTES

    def restore(self, spark: SparkSession, path: str) -> SeenFilter:
        """The filter a blob snapshot directory holds."""
        return read_shard_map(path) if self.held else spark.read.parquet(path)

    def build(self, seen: DataFrame) -> SeenFilter:
        """The filter of a whole seen set (unpublished)."""
        built = build_filter_blobs(
            seen, self.n_shards, n_expected_per_shard=self.n_per_shard
        )
        return collect_shard_map(built) if self.held else built

    def or_in(self, blobs: SeenFilter, seen_path: str) -> SeenFilter:
        """``blobs`` with the keys of a published seen snapshot ORed in
        (unpublished): on the driver with pyarrow and numpy when held, by
        one shard cogroup over the snapshot otherwise."""
        if self.held:
            keys = pq.read_table(seen_path, schema=_URL_HASH_SCHEMA)
            return or_into_shard_map(
                blobs, keys["url_hash"].to_numpy(), self.n_shards,
                self.n_per_shard,
            )
        return update_filter_blobs(
            blobs, blobs.sparkSession.read.parquet(seen_path), self.n_shards,
            self.n_per_shard,
        )

    def publish(
        self, blobs: SeenFilter, write: Callable[[DataFrame | pa.Table], str]
    ) -> SeenFilter:
        """Publish ``blobs`` through ``write`` (data → snapshot directory).
        A held map is written as an arrow table, with no Spark job; a blob
        table is rebound onto its snapshot, which keeps its lineage flat
        across waves."""
        if self.held:
            write(shard_map_table(blobs))
            return blobs
        return blobs.sparkSession.read.parquet(write(blobs))


def mark_maybe_seen(
    candidates: DataFrame,
    blobs: SeenFilter,
    n_shards: int = 32,
) -> DataFrame:
    """Attach ``maybe_seen`` to candidates by probing the bloom blobs.

    Bloom-negative rows are guaranteed-new; only maybe_seen rows need the
    exact backstop.  The one thing this must NEVER do is attach blob bytes
    to candidate rows: a per-row join ships O(rows × blob) bytes through
    the join output and the Arrow boundary — measured superlinear on the
    generated 3M-page site crawl (per-page core-ms tripled when the filter
    tripled; ~700 GB of duplicated blob bytes in one wave).  Instead the
    filter's form chooses the probe:

    - a held :data:`ShardMap` (up to ``BROADCAST_MAX_BYTES``) ships as a
      Spark broadcast variable (one torrent copy per executor); candidates
      stream through mapInPandas untouched — zero shuffle, zero per-row
      blob bytes.
    - a blob-table DataFrame meets the candidates in a shard cogroup, so
      each task materializes its shard's blob exactly once.  The scale
      path once the whole filter outgrows the driver (10^10 keys × 1.25 B
      ≈ 12.5 GB — size n_shards ≥ 4096 there so per-task groups stay
      executor-memory-bounded).

    Either way :func:`probe_bloom` runs vectorized numpy per batch/group.
    """
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    ) + ", maybe_seen boolean"
    cand_cols = [f.name for f in candidates.schema.fields]

    if isinstance(blobs, dict):
        bc = candidates.sparkSession.sparkContext.broadcast(blobs)

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
    blobs: SeenFilter | None,
    n_shards: int = 32,
    broadcast_hint: bool = True,
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
            mark_maybe_seen(candidates, blobs, n_shards)
            .filter(F.col("maybe_seen"))
            .select("url_hash")
            .distinct()
        )
    else:
        keys = candidates.select("url_hash").distinct()
    hits = seen.select("url_hash").join(_hint(keys), "url_hash", "left_semi")
    return candidates.join(_hint(hits), "url_hash", "left_anti")
