"""Partitioned URL-seen filter: bloom + cuckoo blobs with exact backstop.

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

A **cuckoo filter** variant supports deletions (recrawl invalidation) —
same surface, fingerprint-based, with property tests for no-false-negative
and delete-doesn't-evict-live-keys semantics.

Sizing: ``bits_per_key=10`` → ~1% fpp at design load; blob bytes per shard =
``n_expected/ n_shards * 10 / 8``.  For 10^10 keys and 4096 shards that is
~3 MB/shard — within executor memory, shipped once per task by the
shard-cogroup probe path.
"""

from __future__ import annotations

import math
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOB_SCHEMA = "shard int, kind string, bits binary, n_items long, m long, k int"


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


def bloom_params(n_expected: int, bits_per_key: int = 10) -> tuple[int, int]:
    m = max(64, n_expected * bits_per_key)
    k = max(1, round(bits_per_key * math.log(2)))
    return m, k


def build_filter_blobs(
    seen: DataFrame,
    n_shards: int = 32,
    bits_per_key: int = 10,
    hash_col: str = "url_hash",
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
        F.col(hash_col).alias("url_hash"),
        F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int").alias("shard"),
    )

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["url_hash"].to_numpy(dtype=np.int64).astype(np.uint64)
        m, k = bloom_params(
            n_expected_per_shard
            if n_expected_per_shard is not None
            else max(len(h), 1),
            bits_per_key,
        )
        return pd.DataFrame(
            [{
                "shard": int(pdf["shard"].iloc[0]),
                "kind": "bloom",
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
                "shard": int(key[0]), "kind": "bloom", "bits": bits.tobytes(),
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


def _mark_with_blobs(
    candidates: DataFrame,
    blobs: DataFrame,
    n_shards: int,
    hash_col: str,
    strategy: str,
    probe_fn,
) -> DataFrame:
    """Shared probe plumbing for the bloom and cuckoo filters.

    The one thing this must NEVER do is attach blob bytes to candidate
    rows: a per-row join ships O(rows × blob) bytes through the join
    output and the Arrow boundary — measured superlinear on the generated
    3M-page site crawl (per-page core-ms tripled when the filter tripled;
    ~700 GB of duplicated blob bytes in one wave).  Instead:

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

    ``probe_fn(blob_bytes, m, k, hashes_u64) -> bool mask`` runs
    vectorized numpy per batch/group; True = maybe present (no false
    negatives).
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
                    h64 = pdf[hash_col].to_numpy(dtype=np.int64)
                    # numpy % with a positive modulus matches F.pmod
                    shards = h64 % n_shards
                    h = h64.astype(np.uint64)
                    for s in np.unique(shards):
                        ent = tbl.get(int(s))
                        if ent is None:
                            continue
                        m, k, blob = ent
                        idx = np.nonzero(shards == s)[0]
                        maybe[idx] = probe_fn(blob, m, k, h[idx])
                res["maybe_seen"] = maybe
                yield res

        return candidates.mapInPandas(_probe, schema=out_schema)

    withshard = candidates.withColumn(
        "__shard", F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int")
    )

    def _probe_grp(key, cand_pdf: pd.DataFrame, blob_pdf: pd.DataFrame):
        res = cand_pdf[cand_cols].copy()
        maybe = np.zeros(len(cand_pdf), dtype=bool)
        if len(cand_pdf) and len(blob_pdf):
            row = blob_pdf.iloc[0]
            h = (
                cand_pdf[hash_col]
                .to_numpy(dtype=np.int64)
                .astype(np.uint64)
            )
            maybe = probe_fn(
                bytes(row["bits"]), int(row["m"]), int(row["k"]), h
            )
        res["maybe_seen"] = maybe
        return res

    return (
        withshard.groupBy("__shard")
        .cogroup(blobs.groupBy("shard"))
        .applyInPandas(_probe_grp, schema=out_schema)
    )


def mark_maybe_seen(
    candidates: DataFrame,
    blobs: DataFrame,
    n_shards: int = 32,
    hash_col: str = "url_hash",
    strategy: str = "auto",
) -> DataFrame:
    """Attach ``maybe_seen`` to candidates by probing the bloom blobs.

    Bloom-negative rows are guaranteed-new; only maybe_seen rows need the
    exact backstop.  See :func:`_mark_with_blobs` for why the blobs ship
    via broadcast variable / shard cogroup, never a per-row join.
    """
    return _mark_with_blobs(
        candidates, blobs, n_shards, hash_col, strategy,
        lambda blob, m, k, h: probe_bloom(blob, h, m, k),
    )


def dedup_against_seen(
    candidates: DataFrame,
    seen: DataFrame | None,
    blobs: DataFrame | None,
    n_shards: int = 32,
    hash_col: str = "url_hash",
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
                candidates, blobs, n_shards, hash_col, strategy=blob_strategy
            )
            .filter(F.col("maybe_seen"))
            .select(F.col(hash_col))
            .distinct()
        )
    else:
        keys = candidates.select(F.col(hash_col)).distinct()
    hits = seen.select(F.col(hash_col)).join(_hint(keys), hash_col, "left_semi")
    return candidates.join(_hint(hits), hash_col, "left_anti")


# ---------------------------------------------------------------------------
# Cuckoo filter (deletion-capable variant; SURVEY.md §7.1-3)
# ---------------------------------------------------------------------------

class CuckooFilter:
    """Bucketed cuckoo filter over 16-bit fingerprints, 4 slots/bucket.

    Supports delete (recrawl invalidation) which bloom cannot.  Stored as a
    uint16 numpy table; fingerprint 0 is reserved for "empty" (fingerprints
    are mapped to 1..65535).  Partial-key cuckoo hashing: the alternate
    bucket is ``bucket ^ hash(fingerprint)``.
    """

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, n_buckets: int):
        # power of two for cheap masking
        self.n_buckets = 1 << max(4, (n_buckets - 1).bit_length())
        self.table = np.zeros((self.n_buckets, self.SLOTS), dtype=np.uint16)

    @staticmethod
    def _fingerprint(h: int) -> int:
        fp = (h >> 20) & 0xFFFF
        return fp if fp != 0 else 1

    def _buckets(self, h: int) -> tuple[int, int]:
        mask = self.n_buckets - 1
        i1 = h & mask
        fp = self._fingerprint(h)
        i2 = (i1 ^ (fp * 0x5BD1E995)) & mask
        return i1, i2

    def insert(self, h: int) -> bool:
        fp = self._fingerprint(h)
        i1, i2 = self._buckets(h)
        for i in (i1, i2):
            row = self.table[i]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return True
        # kick loop — journaled so a failed insert rolls back and never
        # drops a live fingerprint (a lost fingerprint would be a false
        # negative, which the whole filter contract forbids)
        i = i1
        cur = fp
        journal: list[tuple[int, int]] = []
        rng_state = h & 0xFFFFFFFF
        mask = self.n_buckets - 1
        for _ in range(self.MAX_KICKS):
            rng_state = (rng_state * 1103515245 + 12345) & 0x7FFFFFFF
            slot = rng_state % self.SLOTS
            journal.append((i, slot))
            cur, self.table[i][slot] = int(self.table[i][slot]), cur
            i = (i ^ (cur * 0x5BD1E995)) & mask
            row = self.table[i]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = cur
                return True
        # table full: undo the displacement chain (the swap is its own
        # inverse when replayed in reverse), then report failure
        for b, s in reversed(journal):
            cur, self.table[b][s] = int(self.table[b][s]), cur
        return False  # caller resizes/rebuilds; table is unchanged

    def contains(self, h: int) -> bool:
        fp = self._fingerprint(h)
        i1, i2 = self._buckets(h)
        return bool((self.table[i1] == fp).any() or (self.table[i2] == fp).any())

    def delete(self, h: int) -> bool:
        fp = self._fingerprint(h)
        for i in self._buckets(h):
            row = self.table[i]
            hit = np.nonzero(row == fp)[0]
            if len(hit):
                row[hit[0]] = 0
                return True
        return False

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes, n_buckets: int) -> "CuckooFilter":
        cf = cls.__new__(cls)
        cf.n_buckets = n_buckets
        cf.table = (
            np.frombuffer(blob, dtype=np.uint16)
            .reshape(n_buckets, cls.SLOTS)
            .copy()
        )
        return cf


# ---------------------------------------------------------------------------
# Distributed cuckoo blobs (deletion-capable seen filter → recrawl support)
# ---------------------------------------------------------------------------

def _cuckoo_vec_probe(
    table: np.ndarray, hashes: np.ndarray
) -> np.ndarray:
    """Vectorized CuckooFilter.contains over a batch of uint64 hashes."""
    n_buckets = table.shape[0]
    mask = np.uint64(n_buckets - 1)
    fp = ((hashes >> np.uint64(20)) & np.uint64(0xFFFF))
    fp[fp == 0] = 1
    i1 = (hashes & mask).astype(np.int64)
    i2 = ((i1.astype(np.uint64) ^ (fp * np.uint64(0x5BD1E995))) & mask).astype(
        np.int64
    )
    fp16 = fp.astype(np.uint16)[:, None]
    return (table[i1] == fp16).any(axis=1) | (table[i2] == fp16).any(axis=1)


def _cuckoo_for(n_items: int, load_factor: float = 0.7) -> "CuckooFilter":
    return CuckooFilter(
        max(16, int(math.ceil(n_items / (CuckooFilter.SLOTS * load_factor))))
    )


def build_cuckoo_blobs(
    seen: DataFrame, n_shards: int = 32, hash_col: str = "url_hash"
) -> DataFrame:
    """seen(url_hash) → per-shard cuckoo blobs (kind='cuckoo', m=n_buckets).

    Same shuffle shape as ``build_filter_blobs``; the insert kick-loop is
    per-key Python inside the shard task — the documented build cost of a
    deletable filter (bloom stays the fast build for append-only waves)."""
    keyed = seen.select(
        F.col(hash_col).alias("url_hash"),
        F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int").alias("shard"),
    )

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["url_hash"].to_numpy(dtype=np.int64).astype(np.uint64)
        cf = _cuckoo_for(len(h))
        for x in h.tolist():
            if not cf.insert(int(x)):  # table full → resize once, rebuild
                bigger = CuckooFilter(cf.n_buckets * 2)
                for y in h.tolist():
                    bigger.insert(int(y))
                cf = bigger
                break
        return pd.DataFrame(
            [{
                "shard": int(pdf["shard"].iloc[0]),
                "kind": "cuckoo",
                "bits": cf.to_bytes(),
                "n_items": len(h),
                "m": cf.n_buckets,
                "k": CuckooFilter.SLOTS,
            }]
        )

    return keyed.groupBy("shard").applyInPandas(_build, schema=BLOB_SCHEMA)


def update_cuckoo_blobs(
    blobs: DataFrame,
    inserts: DataFrame | None = None,
    deletes: DataFrame | None = None,
    n_shards: int = 32,
    hash_col: str = "url_hash",
) -> DataFrame:
    """Apply insert/delete deltas to cuckoo blobs — cogrouped per shard.

    ``cogroup().applyInPandas`` keeps each (blob, its deltas) pair
    partition-local: no driver collection, blobs of any size, one shuffle
    of the (small) delta rows.  Missing-shard deltas build a fresh blob."""
    spark_any = blobs.sparkSession
    empty = spark_any.createDataFrame([], f"{hash_col} long")
    ins = (inserts if inserts is not None else empty).select(
        F.col(hash_col).alias("url_hash"), F.lit(1).alias("op")
    )
    dels = (deletes if deletes is not None else empty).select(
        F.col(hash_col).alias("url_hash"), F.lit(-1).alias("op")
    )
    ops = ins.unionByName(dels).withColumn(
        "shard", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int")
    )

    def _apply(key, blob_pdf: pd.DataFrame, ops_pdf: pd.DataFrame) -> pd.DataFrame:
        (shard,) = key
        if len(blob_pdf):
            row = blob_pdf.iloc[0]
            cf = CuckooFilter.from_bytes(row["bits"], int(row["m"]))
            n_items = int(row["n_items"])
        else:
            cf = _cuckoo_for(max(len(ops_pdf), 16))
            n_items = 0
        h_ins = ops_pdf.loc[ops_pdf["op"] == 1, "url_hash"].to_numpy(
            dtype=np.int64).astype(np.uint64)
        h_del = ops_pdf.loc[ops_pdf["op"] == -1, "url_hash"].to_numpy(
            dtype=np.int64).astype(np.uint64)
        for x in h_del.tolist():
            if cf.delete(int(x)):
                n_items -= 1
        for x in h_ins.tolist():
            if not cf.insert(int(x)):
                # fingerprints alone can't be rehashed into a bigger table;
                # a full rebuild from the exact seen set is the caller's job
                # (build_cuckoo_blobs) — signal via the n_items=-1 sentinel.
                # insert() rolled back its kick chain, so the published
                # blob still answers correctly for every prior key
                n_items = -1
                break
            n_items += 1
        return pd.DataFrame(
            [{
                "shard": int(shard), "kind": "cuckoo", "bits": cf.to_bytes(),
                "n_items": n_items, "m": cf.n_buckets,
                "k": CuckooFilter.SLOTS,
            }]
        )

    return (
        blobs.filter(F.col("kind") == "cuckoo")
        .groupBy("shard")
        .cogroup(ops.groupBy("shard"))
        .applyInPandas(_apply, schema=BLOB_SCHEMA)
    )


def mark_maybe_seen_cuckoo(
    candidates: DataFrame,
    blobs: DataFrame,
    n_shards: int = 32,
    hash_col: str = "url_hash",
    strategy: str = "auto",
) -> DataFrame:
    """Cuckoo analog of ``mark_maybe_seen`` (vectorized probe, no Python
    per-row loop on the read path; blobs ship once per executor/task via
    :func:`_mark_with_blobs`, never per candidate row)."""

    def _probe(blob: bytes, m: int, _k: int, h: np.ndarray) -> np.ndarray:
        table = np.frombuffer(blob, dtype=np.uint16).reshape(
            m, CuckooFilter.SLOTS
        )
        return _cuckoo_vec_probe(table, h)

    return _mark_with_blobs(
        candidates, blobs, n_shards, hash_col, strategy, _probe
    )


def invalidate_recrawl(
    seen: DataFrame,
    recrawl: DataFrame,
    cuckoo_blobs: DataFrame | None = None,
    n_shards: int = 32,
    hash_col: str = "url_hash",
):
    """Recrawl invalidation: drop URLs from the exact seen set and (when a
    cuckoo filter is maintained) delete their fingerprints — the operation
    bloom cannot do.  Returns (seen', blobs'|None)."""
    keys = recrawl.select(F.col(hash_col)).distinct()
    new_seen = seen.join(keys, hash_col, "left_anti")
    new_blobs = (
        update_cuckoo_blobs(
            cuckoo_blobs, deletes=keys, n_shards=n_shards, hash_col=hash_col
        )
        if cuckoo_blobs is not None
        else None
    )
    return new_seen, new_blobs
