"""Tests for the training-data operator families: dedup (exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine), ANN search, text stats, and
multimodal plumbing — planted duplicates + plain-Python/numpy oracles."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from no_fasel_scrapers_spark.operators.dedup import (
    cosine_sim,
    embedding_near_dup_pairs,
    exact_dedup,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_dedup,
    simhash_near_pairs,
    with_minhash,
    with_simhash,
)
from no_fasel_scrapers_spark.operators.multimodal import (
    decode_header,
    extract_features,
    fake_encode,
    resize_stub,
    with_media_metadata,
)
from no_fasel_scrapers_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
)
from no_fasel_scrapers_spark.operators.textstats import with_text_stats

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far into the "
    "green forest to find a quiet river with cold clear water flowing by"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                               # exact dup of 0
        (2, BASE.replace("river", "stream")),    # near dup of 0
        (3, "completely different text about spark dataframes and shuffles "
            "partitions joins aggregations windows and catalyst plans"),
        (4, "yet another unrelated document mentioning parquet files arrow "
            "batches pandas udfs and vectorized execution engines today"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_lowest_id(spark, docs):
    out = exact_dedup(docs).select("doc_id").toPandas()["doc_id"].tolist()
    assert sorted(out) == [0, 2, 3, 4]  # doc 1 (exact dup of 0) dropped


def test_lsh_candidates_cover_near_dups(spark, docs):
    # bands=8 (r=2) — the high-recall banding config for short docs:
    # P(candidate | jaccard≈0.8) = 1-(1-0.8²)^8 ≈ 0.9996
    sigs = with_minhash(docs)
    pairs = lsh_candidate_pairs(sigs, bands=8)
    got = {tuple(r) for r in pairs.select("id_a", "id_b").collect()}
    assert (0, 1) in got  # identical docs always share every band
    assert (0, 2) in got or (1, 2) in got  # near dup lands in ≥1 band


def test_jaccard_verify_matches_python(spark, docs):
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "id_a long, id_b long"
    )
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_verify(pairs, docs, threshold=0.0).collect()
    }

    def grams(t):
        toks = t.lower().split()
        return {
            " ".join(toks[i : i + 3])
            for i in range(max(len(toks) - 2, 1))
        }

    texts = {r.doc_id: r.text for r in docs.collect()}
    for (a, b), got in out.items():
        ga, gb = grams(texts[a]), grams(texts[b])
        exp = len(ga & gb) / len(ga | gb)
        assert got == pytest.approx(exp, abs=1e-12), (a, b)
    assert out[(0, 1)] == 1.0
    assert (0, 3) not in out or out.get((0, 3), 0.0) < 0.05


def test_minhash_dedup_drops_near_dups_keeps_distinct(spark, docs):
    out = minhash_dedup(docs, threshold=0.5, bands=8).select("doc_id")
    kept = sorted(r.doc_id for r in out.collect())
    assert 0 in kept and 3 in kept and 4 in kept
    assert 1 not in kept  # exact dup dropped
    assert 2 not in kept  # near dup (jaccard >> 0.5) dropped


def test_simhash_identical_and_near(spark, docs):
    sh = {r.doc_id: r.simhash for r in with_simhash(docs).collect()}
    assert sh[0] == sh[1]
    ham_near = bin((sh[0] ^ sh[2]) & (2**64 - 1)).count("1")
    ham_far = bin((sh[0] ^ sh[3]) & (2**64 - 1)).count("1")
    assert ham_near < ham_far
    pairs = simhash_near_pairs(with_simhash(docs), max_hamming=ham_near)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got[(0, 1)] == 0
    assert all(h <= ham_near for h in got.values())


# ---------------------------------------------------------------------------
# embeddings
# ---------------------------------------------------------------------------

def _vec_rows(n=40, dim=8, seed=7):
    rng = np.random.RandomState(seed)
    v = rng.randn(n, dim)
    v[1] = v[0]                      # planted exact dup
    v[2] = v[0] + rng.randn(dim) * 0.01   # planted near dup
    return [(i, [float(x) for x in v[i]]) for i in range(n)], v


def test_cosine_sim_exact(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [2.0, 4.0]),
         ([0.0, 0.0], [1.0, 1.0])],
        "a array<double>, b array<double>",
    )
    got = [r[0] for r in df.select(cosine_sim(F.col("a"), F.col("b"))).collect()]
    assert got[0] == pytest.approx(0.0)
    assert got[1] == pytest.approx(1.0)
    assert got[2] == 0.0  # zero-norm guard


def test_brute_force_topk_matches_numpy(spark):
    rows, v = _vec_rows()
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        rows[:3], "query_id long, query_vec array<double>"
    )
    out = brute_force_topk(corpus, queries, k=5)
    got = {
        (r.query_id, r.rank): (r.vec_id, r.cosine) for r in out.collect()
    }
    norm = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in range(3):
        order = sorted(
            range(len(v)), key=lambda j: (-round(sims[q, j], 12), j)
        )[:5]
        for rank, j in enumerate(order, start=1):
            vid, cos = got[(q, rank)]
            assert vid == j, (q, rank)
            assert cos == pytest.approx(sims[q, j], abs=1e-9)


def test_ivf_topk_subset_of_bruteforce_and_finds_self(spark):
    rows, _ = _vec_rows()
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        rows[:3], "query_id long, query_vec array<double>"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(corpus, queries, k=40).collect()
    }
    approx = ivf_topk(corpus, queries, k=5, n_planes=4)
    for r in approx.collect():
        assert (r.query_id, r.vec_id) in exact
    tops = {r.query_id: r.vec_id for r in approx.filter("rank = 1").collect()}
    # own cell is always probed → self (or its exact duplicate, which ties
    # at cosine 1.0 and wins the vec_id tie-break) is rank 1
    assert tops[0] == 0
    assert tops[1] == 0  # vec 1 == vec 0; tie broken by lower vec_id
    assert tops[2] == 2


def test_embedding_near_dup_lsh_finds_planted(spark):
    rows, _ = _vec_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(
            df, threshold=0.99, bits_per_table=4, n_tables=4
        ).collect()
    }
    assert got[(0, 1)] == pytest.approx(1.0)
    assert got[(0, 2)] > 0.99  # near-identical → same bucket in ≥1 table


def test_embedding_near_dup_recall_floor(spark):
    """The round-1 defect made concrete: single-table LSH (≈ b·L bits in
    ONE bucket key) misses most near-dups at cosine 0.8; the band-OR
    version must recover ≥0.9 of the exact truth set on planted pairs
    spanning cosine ∈ [0.8, 0.99]."""
    rng = np.random.RandomState(11)
    base = rng.randn(60, 16)
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    # plant one perturbed copy per vector at varying noise levels
    for i in range(60):
        eps = 0.25 + 0.9 * (i % 10) / 10.0
        noisy = base[i] + rng.randn(16) * eps * np.abs(base[i]).mean()
        rows.append((1000 + i, [float(x) for x in noisy]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    V = np.array([r[1] for r in rows])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = Vn @ Vn.T
    ids = [r[0] for r in rows]
    truth = {
        (min(ids[i], ids[j]), max(ids[i], ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if C[i, j] >= 0.8 + 1e-9
    }
    assert len(truth) >= 20  # the plant worked — non-trivial truth set

    found = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            df, threshold=0.8, bits_per_table=6, n_tables=10
        ).collect()
    }
    # precision is 1 by construction (exact cosine verify inside the op);
    # recall against the exact truth set is the claim under test
    recall = len(found & truth) / len(truth)
    assert recall >= 0.9, f"recall {recall:.3f} on {len(truth)} true pairs"


# ---------------------------------------------------------------------------
# text stats
# ---------------------------------------------------------------------------

def test_text_stats_oracle(spark):
    rows = [
        (0, "The quick brown fox, the lazy dog!"),
        (1, "عنوان عربي بالكامل"),
        (2, "xyzzy plugh abcd efgh ijkl"),
        (3, "你好世界 спасибо"),
        (4, "hello world\n"),   # trailing newline: 2 tokens, no phantom ''
        (5, "\t \n"),           # whitespace-only: 0 tokens (trim-based
                                # ws_tokens miscounted both — review fix)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in with_text_stats(df).collect()}

    assert got[4].n_tokens_ws == 2
    assert got[5].n_tokens_ws == 0 and got[5].stopword_ratio == 0.0
    assert got[0].n_tokens_ws == 7
    assert got[0].punct_ratio == pytest.approx(2 / 34)  # ',' and '!'
    assert got[0].stopword_ratio == pytest.approx(2 / 7)  # 'The'→the, 'the'
    assert got[0].lang_detected == "en"
    assert got[1].lang_detected == "ar"
    # Unicode-aware punct class: Arabic letters are NOT punctuation
    assert got[1].punct_ratio == pytest.approx(0.0)
    assert got[2].lang_detected == "latin-other"
    assert got[3].lang_detected == "zh"
    # fingerprint is whitespace-normalization invariant
    df2 = spark.createDataFrame(
        [(0, "  The   quick brown fox, the lazy dog! ")],
        "doc_id long, text string",
    )
    fp = lambda d: with_text_stats(d).select("fingerprint").first()[0]
    assert fp(df.filter("doc_id = 0")) == fp(df2)


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_fake_codec_roundtrip():
    p = fake_encode(20, 10, 3, seed=5)
    m = decode_header(p)
    assert (m["width"], m["height"], m["channels"]) == (20, 10, 3)
    assert m["n_bytes"] == 9 + 20 * 10 * 3
    assert m["codec"] == "nfsi-fake"
    assert decode_header(b"junk")["codec"] == "unknown"


def test_media_metadata_and_features(spark):
    rows = [(i, fake_encode(16 + i, 8, 2, seed=i)) for i in range(10)]
    rows.append((99, b"not-an-image"))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    meta = {r.media_id: r for r in with_media_metadata(df).collect()}
    assert meta[3].width == 19 and meta[3].height == 8
    assert meta[99].codec == "unknown" and meta[99].width is None

    feats = {r.media_id: r.features for r in extract_features(df).collect()}
    assert feats[99] is None
    assert len(feats[0]) == 16
    assert sum(feats[0]) == pytest.approx(1.0, abs=1e-5)


def test_resize_stub_dims(spark):
    df = spark.createDataFrame(
        [(0, fake_encode(32, 16, 1, seed=1))], "media_id long, payload binary"
    )
    out = resize_stub(df, width=8, height=4).collect()[0]
    m = decode_header(out.resized)
    assert (m["width"], m["height"], m["channels"]) == (8, 4, 1)
    assert m["n_bytes"] == 9 + 8 * 4


def test_real_decode_is_stubbed():
    # PNG and baseline JPEG decode for real (test_png_codec /
    # test_jpeg_codec); the remaining formats stay honestly stubbed
    from no_fasel_scrapers_spark.operators.multimodal import _decode_image_real

    with pytest.raises(NotImplementedError):
        _decode_image_real(b"RIFF\x00\x00\x00\x00WEBP")


def test_frame_sample_explodes_to_real_pngs(spark):
    import numpy as np

    from no_fasel_scrapers_spark.operators.multimodal import (
        fake_encode,
        fake_video_encode,
        png_decode,
        sample_frames,
        video_header,
    )

    vids = [
        (0, fake_video_encode(12, 6, 3, n_frames=7, seed=100, fps=24)),
        (1, fake_video_encode(8, 8, 1, n_frames=3, seed=7, fps=10)),
        (2, None),  # NULL payload → zero frames, row just disappears
    ]
    df = spark.createDataFrame(vids, "media_id long, payload binary")
    out = sample_frames(df, stride=2).collect()

    # stride 2: video 0 samples frames 0,2,4,6; video 1 samples 0,2
    by_vid = {}
    for r in out:
        by_vid.setdefault(r.media_id, []).append(r)
    assert sorted(r.frame_idx for r in by_vid[0]) == [0, 2, 4, 6]
    assert sorted(r.frame_idx for r in by_vid[1]) == [0, 2]
    assert 2 not in by_vid

    # ts from the container fps (24 fps → frame 6 at 250 ms)
    ts = {r.frame_idx: r.ts_ms for r in by_vid[0]}
    assert ts[0] == 0 and ts[6] == 250

    # each frame is a REAL standalone PNG whose pixels equal the fake
    # codec's deterministic body for seed+frame_idx
    frame2 = next(r for r in by_vid[0] if r.frame_idx == 2)
    arr = png_decode(bytes(frame2.frame))
    expected = np.frombuffer(
        fake_encode(12, 6, 3, seed=102)[9:], dtype=np.uint8
    ).reshape(6, 12, 3)
    assert np.array_equal(arr, expected)

    # max_frames caps the per-video sample count
    capped = sample_frames(df, stride=1, max_frames=2).collect()
    assert sorted(r.frame_idx for r in capped if r.media_id == 0) == [0, 1]

    # header parse + honest seam for real containers
    assert video_header(vids[0][1])["n_frames"] == 7
    bad = spark.createDataFrame(
        [(9, b"\x00\x00\x00 ftypmp42")], "media_id long, payload binary"
    )
    with pytest.raises(Exception, match="PyAV|ffmpeg|NotImplemented"):
        sample_frames(bad).collect()
    assert sample_frames(bad, strict=False).count() == 0


# ---------------------------------------------------------------------------
# document chunking (operators/chunking.py)
# ---------------------------------------------------------------------------

def test_chunk_documents_matches_python(spark):
    from no_fasel_scrapers_spark.operators.chunking import chunk_documents

    rows = [
        (1, " ".join(f"t{i}" for i in range(10))),   # 10 tokens
        (2, "single"),                                # 1 token
        (3, None),                                    # null → no rows
        (4, "   "),                                   # blank → no rows
        (5, " ".join(f"w{i}" for i in range(8))),    # exactly 2 windows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.chunk_id): (r.n_tokens, r.chunk_text)
        for r in chunk_documents(df, size=4, stride=3).collect()
    }

    def oracle(doc_id, text):
        if text is None or not text.strip():
            return {}
        toks = text.split()
        out = {}
        i = 0
        while i * 3 < len(toks):
            w = toks[i * 3 : i * 3 + 4]
            out[(doc_id, i)] = (len(w), " ".join(w))
            i += 1
        return out

    want = {}
    for doc_id, text in rows:
        want.update(oracle(doc_id, text))
    assert got == want
    # overlap: consecutive windows share size-stride tokens
    assert got[(1, 0)][1].split()[3] == got[(1, 1)][1].split()[0]


def test_chunk_documents_no_shuffle(spark):
    """Chunking must be a narrow map — no Exchange in the plan."""
    from no_fasel_scrapers_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = chunk_documents(df, size=2)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# as-of join (operators/asof.py)
# ---------------------------------------------------------------------------

def test_asof_join_matches_python(spark):
    from no_fasel_scrapers_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 7, "d"), (3, 9, "e")],
        "k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 15, 2.0), (1, 1, 0.5), (2, 8, 9.0)],
        "k long, ts long, v double",
    )
    got = {
        (r["k"], r["ts"]): (r["v"], r["__asof_ts"])
        for r in asof_join(left, right, on="k", ts="ts").collect()
    }
    # ties match (ts >= right.ts); no preceding right row → nulls
    assert got == {
        (1, 10): (1.0, 10),   # exact-tie match
        (1, 20): (2.0, 15),
        (1, 5): (0.5, 1),
        (2, 7): (None, None),  # right row at ts=8 is in the future
        (3, 9): (None, None),  # key absent on the right
    }


def test_asof_join_tolerance(spark):
    from pyspark.sql import functions as F

    from no_fasel_scrapers_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100, "x")], "k long, ts long, tag string")
    right = spark.createDataFrame([(1, 10, 7.0)], "k long, ts long, v double")
    near = asof_join(left, right, on="k", ts="ts", tolerance=F.lit(100))
    far = asof_join(left, right, on="k", ts="ts", tolerance=F.lit(50))
    assert near.collect()[0].v == 7.0
    assert far.collect()[0].v is None  # match outside tolerance → nulls


# ---------------------------------------------------------------------------
# range join (operators/rangejoin.py)
# ---------------------------------------------------------------------------

def test_range_join_matches_naive(spark):
    from no_fasel_scrapers_spark.operators.rangejoin import range_join

    pts = spark.range(0, 300).select(
        (F.col("id") % 5).alias("k"),
        F.col("id").alias("pid"),
        (F.col("id") * 7.3 % 97).alias("x"),
    )
    ivs = spark.range(0, 60).select(
        (F.col("id") % 5).alias("k"),
        F.col("id").alias("iid"),
        (F.col("id") * 3.1 % 80).alias("lo"),
        (F.col("id") * 3.1 % 80 + (F.col("id") % 7) * 4).alias("hi"),
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(
            pts, ivs, on="k", point_col="x", lo_col="lo", hi_col="hi",
            bucket_size=5.0,
        ).collect()
    )
    naive = sorted(
        (r["pid"], r["iid"])
        for r in pts.join(ivs, "k")
        .filter((F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi")))
        .collect()
    )
    assert got == naive and len(naive) > 0


def test_range_join_wide_interval_fallback(spark):
    from no_fasel_scrapers_spark.operators.rangejoin import range_join

    pts = spark.createDataFrame(
        [(1, 10, 5.0), (1, 11, 9999.0)], "k long, pid long, x double"
    )
    ivs = spark.createDataFrame(
        [(1, 100, 0.0, 100000.0)], "k long, iid long, lo double, hi double"
    )
    # interval spans 100000/1 buckets >> cap → must still match via the
    # key-equi fallback, not silently drop
    out = range_join(
        pts, ivs, on="k", point_col="x", lo_col="lo", hi_col="hi",
        bucket_size=1.0, max_buckets_per_interval=64,
    )
    assert sorted(r["pid"] for r in out.collect()) == [10, 11]


def test_asof_join_null_value_is_row_atomic(spark):
    """The matched right row's NULL value must come through as NULL — not a
    stale value from an older row (DuckDB ASOF semantics)."""
    from no_fasel_scrapers_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 3, "l")], "k long, ts long, tag string")
    right = spark.createDataFrame(
        [(1, 1, 5.0), (1, 2, None)], "k long, ts long, v double"
    )
    r = asof_join(left, right, on="k", ts="ts").collect()[0]
    assert r["__asof_ts"] == 2 and r["v"] is None


# ---------------------------------------------------------------------------
# substring_dedup (ExactSubstr, round 5)
# ---------------------------------------------------------------------------

# Distinct token alphabets per document so no window matches by accident.
_SD_A = " ".join(f"a{i}" for i in range(1, 21))          # a1..a20
_SD_B = "x1 x2 x3 " + " ".join(
    f"a{i}" for i in range(5, 17)
) + " y1 y2"                                             # shares a5..a16 (12 toks)
_SD_C = "c1\tc2  c3\nc4 c5"                              # < width, odd whitespace
_SD_E = " ".join(f"r{i}" for i in range(1, 9)) + " z1 " + " ".join(
    f"r{i}" for i in range(1, 9)
)                                                        # within-doc repeat


@pytest.fixture(scope="module")
def sd_result(spark):
    from no_fasel_scrapers_spark.operators.dedup import substring_dedup

    df = spark.createDataFrame(
        [(1, _SD_A), (2, _SD_B), (3, _SD_C), (4, None), (5, _SD_E)],
        "doc_id long, text string",
    )
    return {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in substring_dedup(df, width=8).collect()
    }


class TestSubstringDedup:
    def test_all_rows_survive(self, sd_result):
        # a curation pass never drops rows — every doc_id comes back once
        assert sorted(sd_result) == [1, 2, 3, 4, 5]

    def test_canonical_doc_untouched(self, sd_result):
        # doc 1 holds the minimum (doc_id, pos) occurrence of every
        # duplicated window → byte-identical passthrough
        assert sd_result[1] == (_SD_A, 0)

    def test_overlapping_windows_merge_to_full_span(self, sd_result):
        # doc 2 shares a5..a16 with doc 1: 12 tokens → 5 duplicated
        # 8-token windows whose spans union to the whole run
        assert sd_result[2] == ("x1 x2 x3 y1 y2", 12)

    def test_short_doc_passthrough_byte_identical(self, sd_result):
        # < width tokens: no windows; tabs/newlines/double spaces kept
        assert sd_result[3] == (_SD_C, 0)

    def test_null_text_passthrough(self, sd_result):
        assert sd_result[4] == (None, 0)

    def test_within_doc_repetition_removed(self, sd_result):
        # the SECOND occurrence of r1..r8 (pos 10) is removed; the first
        # and the separator token survive
        expect = " ".join(f"r{i}" for i in range(1, 9)) + " z1"
        assert sd_result[5] == (expect, 8)

    def test_mirror_parity_on_parquet(self, spark, tmp_path):
        # end-to-end parity with the analytic oracle mirror over a real
        # parquet round-trip (the mirror reads documents.parquet shape)
        import hashlib

        from no_fasel_scrapers_spark.operators.dedup import substring_dedup
        from no_fasel_scrapers_spark.oracle.analytic import (
            substring_dedup_rows,
        )

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        sf = str(tmp_path)
        # doc 4's NULL text: both sides must pass it through (NULL clean
        # text, nothing removed)
        rows = [(1, _SD_A, "en"), (2, _SD_B, "en"), (3, _SD_C, "en"),
                (4, None, "en"), (5, _SD_E, "en")]
        pq.write_table(
            pa.Table.from_pandas(
                pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
            ),
            f"{sf}/documents.parquet",
        )
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        got = sorted(
            (
                r["doc_id"],
                None if r["clean_text"] is None
                else hashlib.md5(r["clean_text"].encode()).hexdigest(),
                r["n_removed"],
            )
            for r in substring_dedup(
                df.select("doc_id", "text"), width=8
            ).collect()
        )
        assert got == substring_dedup_rows(sf, width=8)
