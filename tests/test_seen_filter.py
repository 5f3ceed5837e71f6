"""Seen-filter properties (SURVEY.md §5.2-4): bloom no-false-negatives,
cuckoo insert/contains/delete, end-to-end dedup correctness vs exact."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from no_fasel_scrapers_spark.operators.seen_filter import (
    CuckooFilter,
    bloom_params,
    build_bloom,
    build_filter_blobs,
    dedup_against_seen,
    probe_bloom,
    update_filter_blobs,
)

HASHES = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    min_size=0,
    max_size=300,
    unique=True,
)


class TestBloomLocal:
    @settings(max_examples=50, deadline=None)
    @given(HASHES, HASHES)
    def test_no_false_negatives(self, inserted, probed):
        ins = np.array(inserted, dtype=np.int64).astype(np.uint64)
        m, k = bloom_params(max(len(ins), 1))
        blob = build_bloom(ins, m, k)
        qs = np.array(inserted + probed, dtype=np.int64).astype(np.uint64)
        mask = probe_bloom(blob, qs, m, k)
        # everything inserted must report present
        assert mask[: len(inserted)].all()

    def test_fpp_reasonable(self):
        rng = np.random.default_rng(42)
        ins = rng.integers(-(2**63), 2**63 - 1, size=20000, dtype=np.int64)
        m, k = bloom_params(len(ins), bits_per_key=10)
        blob = build_bloom(ins.astype(np.uint64), m, k)
        probe = rng.integers(-(2**63), 2**63 - 1, size=20000, dtype=np.int64)
        fresh = np.setdiff1d(probe, ins)
        mask = probe_bloom(blob, fresh.astype(np.uint64), m, k)
        assert mask.mean() < 0.03  # ~1% design fpp, generous bound


class TestCuckoo:
    @settings(max_examples=30, deadline=None)
    @given(HASHES)
    def test_insert_contains(self, keys):
        cf = CuckooFilter(max(len(keys) * 2, 16))
        ok = [cf.insert(k & ((1 << 64) - 1)) for k in keys]
        assert all(ok)
        for k in keys:
            assert cf.contains(k & ((1 << 64) - 1))

    def test_delete_keeps_live_keys(self):
        keys = list(range(1000, 2000))
        cf = CuckooFilter(4096)
        for k in keys:
            assert cf.insert(k)
        dead, live = keys[::2], keys[1::2]
        for k in dead:
            assert cf.delete(k)
        for k in live:
            assert cf.contains(k)

    def test_roundtrip_bytes(self):
        cf = CuckooFilter(64)
        for k in range(50):
            cf.insert(k * 7919)
        cf2 = CuckooFilter.from_bytes(cf.to_bytes(), cf.n_buckets)
        for k in range(50):
            assert cf2.contains(k * 7919)


class TestDistributedDedup:
    def test_matches_exact_antijoin(self, spark):
        cand = spark.range(0, 5000).select(
            (F.xxhash64(F.col("id"))).alias("url_hash"),
            F.concat(F.lit("u"), F.col("id")).alias("url"),
        )
        seen = spark.range(0, 5000, 3).select(
            (F.xxhash64(F.col("id"))).alias("url_hash"),
            F.concat(F.lit("u"), F.col("id")).alias("url"),
        )
        blobs = build_filter_blobs(seen, n_shards=8)
        got = dedup_against_seen(cand, seen, blobs, n_shards=8)
        exact = cand.join(seen.select("url_hash"), "url_hash", "left_anti")
        a = sorted(r["url"] for r in got.collect())
        b = sorted(r["url"] for r in exact.collect())
        assert a == b

    def test_none_seen_passthrough(self, spark):
        cand = spark.range(10).select(
            F.xxhash64("id").alias("url_hash"),
            F.concat(F.lit("u"), F.col("id")).alias("url"),
        )
        out = dedup_against_seen(cand, None, None)
        assert out.count() == 10


class TestIncrementalBlobs:
    """update_filter_blobs: ORing delta keys into pinned-size standing
    blobs == one-shot build over the union."""

    def test_incremental_equals_rebuild(self, spark):
        n_shards = 8
        nps = 1000
        # the standing blobs miss shards 0 and 1 entirely: the update must
        # start those from an empty blob, and pass shards the delta lacks
        # through untouched
        a = spark.range(0, 4000).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash")
        ).filter(F.pmod("url_hash", F.lit(n_shards)) >= 2)
        b = spark.range(4000, 7000).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash")
        ).filter(F.pmod("url_hash", F.lit(n_shards)) != 5)
        merged = update_filter_blobs(
            build_filter_blobs(a, n_shards, n_expected_per_shard=nps),
            b, n_shards, nps,
        )
        full = build_filter_blobs(
            a.unionByName(b), n_shards, n_expected_per_shard=nps
        )
        m = {r["shard"]: r for r in merged.collect()}
        f = {r["shard"]: r for r in full.collect()}
        assert set(m) == set(f)
        for s in f:
            assert bytes(m[s]["bits"]) == bytes(f[s]["bits"]), s
            assert m[s]["n_items"] == f[s]["n_items"]
            assert (m[s]["m"], m[s]["k"]) == (f[s]["m"], f[s]["k"])

    def test_merge_rejects_mismatched_sizing(self, spark):
        a = spark.range(0, 500).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash")
        )
        x = build_filter_blobs(a, 4, n_expected_per_shard=100)
        with pytest.raises(Exception, match="cannot OR-merge"):
            update_filter_blobs(x, a, 4, 9999).collect()

    def test_dedup_streaming_anti_matches_naive(self, spark):
        cand = spark.range(0, 2000).select(
            F.col("id").alias("event_id"),
            F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        )
        seen = cand.filter(F.col("event_id") % 3 == 0).select("url_hash")
        blobs = build_filter_blobs(seen, 8, n_expected_per_shard=500)
        for bl in (None, blobs):
            got = sorted(
                r["event_id"]
                for r in dedup_against_seen(cand, seen, bl, 8).collect()
            )
            want = sorted(i for i in range(2000) if i % 3 != 0)
            assert got == want, "blobs" if bl is not None else "exact"
