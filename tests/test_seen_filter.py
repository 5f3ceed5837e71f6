"""Seen-filter properties (SURVEY.md §5.2-4): bloom no-false-negatives,
end-to-end dedup correctness vs exact in both filter forms (each picks its
probe)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from no_fasel_scrapers_spark.operators.seen_filter import (
    bloom_params,
    build_bloom,
    build_filter_blobs,
    collect_shard_map,
    dedup_against_seen,
    or_into_shard_map,
    probe_bloom,
    read_shard_map,
    shard_map_table,
    update_filter_blobs,
)
from no_fasel_scrapers_spark.sources.catalog import Catalog

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
        m, k = bloom_params(len(ins))
        blob = build_bloom(ins.astype(np.uint64), m, k)
        probe = rng.integers(-(2**63), 2**63 - 1, size=20000, dtype=np.int64)
        fresh = np.setdiff1d(probe, ins)
        mask = probe_bloom(blob, fresh.astype(np.uint64), m, k)
        assert mask.mean() < 0.03  # ~1% design fpp, generous bound


class TestDistributedDedup:
    # the form picks the probe: a held map broadcasts, a table cogroups
    @pytest.mark.parametrize("probe", ["broadcast", "cogroup"])
    def test_matches_exact_antijoin(self, spark, probe):
        cand = spark.range(0, 5000).select(
            (F.xxhash64(F.col("id"))).alias("url_hash"),
            F.concat(F.lit("u"), F.col("id")).alias("url"),
        )
        seen = spark.range(0, 5000, 3).select(
            (F.xxhash64(F.col("id"))).alias("url_hash"),
            F.concat(F.lit("u"), F.col("id")).alias("url"),
        )
        blobs = build_filter_blobs(seen, n_shards=8)
        if probe == "broadcast":
            blobs = collect_shard_map(blobs)
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

    def test_blobs_written_with_kind_column_resume(self, spark, tmp_path):
        """Blobs in a catalog written while BLOB_SCHEMA still carried a
        ``kind`` column update and probe exactly like fresh blobs."""
        cand = spark.range(0, 3000).select(
            F.col("id").alias("event_id"),
            F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        )
        seen = cand.filter(F.col("event_id") % 3 == 0).select("url_hash")
        delta = cand.filter(F.col("event_id") % 7 == 1).select("url_hash")
        fresh = build_filter_blobs(seen, 8, n_expected_per_shard=500)
        cat = Catalog(str(tmp_path / "c"))
        cat.write(
            fresh.select(
                "shard", F.lit("bloom").alias("kind"), "bits", "n_items",
                "m", "k",
            ),
            "blobs",
        )
        legacy = cat.read(spark, "blobs")
        assert "kind" in legacy.columns

        def by_shard(blobs):
            return {
                r["shard"]: (bytes(r["bits"]), r["n_items"], r["m"], r["k"])
                for r in blobs.collect()
            }

        def new_ids(seen_set, blobs):
            out = dedup_against_seen(cand, seen_set, blobs, 8).collect()
            return sorted(r["event_id"] for r in out)

        assert new_ids(seen, legacy) == new_ids(seen, fresh)
        got = update_filter_blobs(legacy, delta, 8, 500)
        want = update_filter_blobs(fresh, delta, 8, 500)
        assert by_shard(got) == by_shard(want)
        both = seen.unionByName(delta)
        assert new_ids(both, got) == new_ids(both, want)


class TestDriverHeldBlobs:
    """or_into_shard_map: the driver-side OR == the cogroup update."""

    def test_driver_or_equals_cogroup_update(self, spark, tmp_path):
        n_shards, nps = 8, 1000
        # standing blobs lack shards 0 and 1; the delta lacks shard 5
        a = spark.range(0, 4000).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash")
        ).filter(F.pmod("url_hash", F.lit(n_shards)) >= 2)
        b = spark.range(4000, 7000).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash")
        ).filter(F.pmod("url_hash", F.lit(n_shards)) != 5)
        standing = build_filter_blobs(a, n_shards, n_expected_per_shard=nps)
        want = collect_shard_map(
            update_filter_blobs(standing, b, n_shards, nps)
        )
        held = collect_shard_map(standing)
        assert not {0, 1} & set(held)
        keys = np.array([r["url_hash"] for r in b.collect()], dtype=np.int64)
        got = or_into_shard_map(held, keys, n_shards, nps)
        assert got == want
        # the input map is left as it was
        assert held == collect_shard_map(standing)
        # the arrow table round-trips through the catalog unchanged
        cat = Catalog(str(tmp_path / "c"))
        snap = cat.write(shard_map_table(got), "blobs")
        assert snap.rows == len(got)
        assert read_shard_map(snap.path) == got
        assert collect_shard_map(cat.read(spark, "blobs")) == got

    def test_driver_or_rejects_mismatched_sizing(self, spark):
        a = spark.range(0, 500).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash")
        )
        held = collect_shard_map(
            build_filter_blobs(a, 4, n_expected_per_shard=100)
        )
        with pytest.raises(ValueError, match="cannot OR-merge"):
            or_into_shard_map(held, np.array([1, 2], np.int64), 4, 9999)

    def test_held_map_probes_like_the_table(self, spark):
        cand = spark.range(0, 3000).select(
            F.col("id").alias("event_id"),
            F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        )
        seen = cand.filter(F.col("event_id") % 3 == 0).select("url_hash")
        blobs = build_filter_blobs(seen, 8, n_expected_per_shard=500)
        got = dedup_against_seen(cand, seen, collect_shard_map(blobs), 8)
        want = sorted(i for i in range(3000) if i % 3 != 0)
        assert sorted(r["event_id"] for r in got.collect()) == want
