"""Analytic oracles for the hash-seeded queries (VERDICT r1, next-steps #1).

DuckDB cannot evaluate Spark's seeded ``xxhash64`` family, so the queries
built on it (minhash/simhash/LSH/fingerprints/IVF) had no SQL twin in
round 1 — 7 of 45 driver rows were ``err: no_oracle``.  This module closes
that gap with the same pattern the repo already proved on
``robots_parse``/``sitemap_parse``: an INDEPENDENT recomputation of the
expected result, here in plain Python + numpy on the driver at the
driver's correctness scale (sf0.01), rendered as a DuckDB ``VALUES``
relation that the driver compares row-for-row against the Spark output.

Fidelity notes (each of these was a real divergence risk):

* ``xxhash64`` twins — :mod:`no_fasel_scrapers_spark.functions.xxh64`
  mirrors Spark bit-for-bit, including the multi-column seed chaining
  (``xxhash64(c1, c2) = hash(c2, seed=hash(c1, 42))``) and the int-vs-long
  width distinction; verified against a live session in
  ``tests/test_canonical.py``.
* Floating point — Spark's higher-order ``aggregate`` is a sequential
  left fold of IEEE doubles; the mirrors fold in the same order (numpy is
  used only for elementwise products, never for reductions that feed a
  comparison).  Near decision boundaries (thresholds, top-k ranks) the
  mirrors recompute with exact sequential folds.
* ``F.round(x, d)`` rounds HALF_UP on ``BigDecimal.valueOf(double)``
  (shortest decimal repr) — mirrored via ``Decimal(repr(x))``.
* Java regex ``\\s`` is ASCII-only; mirrors split on the explicit class.
  Spark ``trim`` strips only ``' '``; mirrors use ``str.strip(' ')``.

The sf dir defaults to the driver's correctness scale and can be pointed
elsewhere via ``SPARK_GRAFT_ORACLE_SF_DIR`` (scripts/check_entry.py sets
it so local runs at other scales stay consistent).
"""

from __future__ import annotations

import functools
import math
import os
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from ..functions.xxh64 import (
    xxh64_int_signed,
    xxh64_long_vec,
    xxh64_signed,
)

ORACLE_SF_DIR_ENV = "SPARK_GRAFT_ORACLE_SF_DIR"
DEFAULT_SF_DIR = "/root/testdata/sf0.01"

_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s (ASCII), not Python's


def sf_dir() -> str:
    return os.environ.get(ORACLE_SF_DIR_ENV, DEFAULT_SF_DIR)


def _round_half_up(x: float, digits: int) -> float:
    """Mirror of Spark ``F.round(double, d)`` (BigDecimal HALF_UP over the
    shortest decimal representation — identical to Python ``repr``)."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def _split_ws(s: str) -> list[str]:
    """Mirror of Spark ``split(s, '\\\\s+')`` (Pattern.split, limit -1)."""
    return _WS.split(s)


# ---------------------------------------------------------------------------
# Parquet loaders (cached per sf dir)
# ---------------------------------------------------------------------------

@functools.lru_cache(maxsize=4)
def _docs(sf: str) -> list[tuple[int, str, str]]:
    import duckdb

    return duckdb.sql(
        f"SELECT doc_id, text, lang FROM '{sf}/documents.parquet' "
        "ORDER BY doc_id"
    ).fetchall()


@functools.lru_cache(maxsize=4)
def _embeddings(sf: str) -> list[tuple[int, list[float]]]:
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    return [(int(v), [float(x) for x in e]) for v, e in rows]


# ---------------------------------------------------------------------------
# VALUES rendering
# ---------------------------------------------------------------------------

def _sql_val(v, typ: str) -> str:
    if v is None:
        return f"CAST(NULL AS {typ})"
    if typ in ("BIGINT", "INTEGER"):
        return f"CAST({int(v)} AS {typ})"
    if typ == "DOUBLE":
        return f"CAST({repr(float(v))} AS DOUBLE)"
    if typ == "VARCHAR":
        s = str(v).replace("'", "''")
        return f"'{s}'"
    if typ == "BOOLEAN":
        return "TRUE" if v else "FALSE"
    raise ValueError(typ)


def values_sql(rows, cols: list[tuple[str, str]]) -> str:
    """Render rows as a typed DuckDB VALUES relation (empty-safe)."""
    names = ", ".join(n for n, _ in cols)
    if not rows:
        sel = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in cols)
        return f"SELECT {sel} WHERE FALSE"
    body = ",\n".join(
        "(" + ", ".join(_sql_val(v, t) for v, (_, t) in zip(r, cols)) + ")"
        for r in rows
    )
    return f"SELECT * FROM (VALUES\n{body}\n) AS t({names})"


# ---------------------------------------------------------------------------
# Shared text mirrors
# ---------------------------------------------------------------------------

@functools.lru_cache(maxsize=1 << 20)
def _hs(s: str) -> int:
    """Cached Spark-twin xxhash64 of a string (seed 42, signed)."""
    return xxh64_signed(s)


def _word_ngrams(text: str, n: int = 3) -> list[str]:
    """Mirror of dedup.word_ngrams: distinct word n-grams, first-occurrence
    order (order is irrelevant downstream — set semantics everywhere)."""
    toks = _split_ws(text.lower().strip(" "))
    cnt = max(len(toks) - (n - 1), 1)
    grams = [" ".join(toks[i : i + n]) for i in range(cnt)]
    seen: set[str] = set()
    out = []
    for g in grams:
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


# ---------------------------------------------------------------------------
# minhash_dedup
# ---------------------------------------------------------------------------

def _minhash_verified_pairs(
    sf: str, k: int = 16, bands: int = 4, ngram: int = 3,
    threshold: float = 0.8, max_bucket: int = 200,
) -> set[tuple[int, int]]:
    """Verified (a < b) duplicate pairs of the MinHash→LSH→Jaccard path
    (shared by minhash_dedup and near_dup_groups oracles)."""
    docs = _docs(sf)
    gram_hashes: dict[int, list[int]] = {}
    sigs: dict[int, list[int]] = {}
    perm_seeds = [xxh64_int_signed(i) for i in range(k)]
    for doc_id, text, _lang in docs:
        gh = [_hs(g) for g in _word_ngrams(text, ngram)]
        gram_hashes[doc_id] = gh
        arr = np.array(gh, dtype=np.int64)
        sigs[doc_id] = [
            int(xxh64_long_vec(arr, seed).min()) for seed in perm_seeds
        ]

    r = k // bands
    # band explode → bucket occupancy → skew cap → same-bucket pairs
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, sig in sigs.items():
        for b in range(bands):
            key = ",".join(str(sig[b * r + j]) for j in range(r))
            buckets.setdefault((b, _hs(key)), []).append(doc_id)
    cand: set[tuple[int, int]] = set()
    for ids in buckets.values():
        if len(ids) > max_bucket:
            continue
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))

    dups: set[tuple[int, int]] = set()
    for a, b in cand:
        ga, gb = set(gram_hashes[a]), set(gram_hashes[b])
        uni = len(ga | gb)
        jac = 1.0 if uni == 0 else len(ga & gb) / float(uni)
        if jac >= threshold:
            dups.add((a, b))
    return dups


def minhash_dedup_rows(
    sf: str, k: int = 16, bands: int = 4, ngram: int = 3,
    threshold: float = 0.8, max_bucket: int = 200,
):
    """Survivors of the MinHash→LSH→Jaccard pipeline: (doc_id, lang)."""
    docs = _docs(sf)
    drop = {
        b for _a, b in _minhash_verified_pairs(
            sf, k, bands, ngram, threshold, max_bucket
        )
    }
    return [(d, lang) for d, _t, lang in docs if d not in drop]


def near_dup_groups_rows(sf: str):
    """Union-find over the verified minhash pairs: (doc_id, group_id,
    is_survivor) for every document, group label = component minimum —
    the transitive closure the Spark side computes with alternating
    large-star/small-star connected components."""
    docs = _docs(sf)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in _minhash_verified_pairs(sf):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for n in list(parent):
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    out = []
    for doc_id, _t, _l in docs:
        gid = comp_min[find(doc_id)] if doc_id in parent else doc_id
        out.append((doc_id, gid, doc_id == gid))
    return out


def near_dup_groups_sql(sf: str | None = None) -> str:
    rows = near_dup_groups_rows(sf or sf_dir())
    return values_sql(
        rows,
        [("doc_id", "BIGINT"), ("group_id", "BIGINT"),
         ("is_survivor", "BOOLEAN")],
    )


def minhash_dedup_sql(sf: str | None = None) -> str:
    rows = minhash_dedup_rows(sf or sf_dir())
    return values_sql(rows, [("doc_id", "BIGINT"), ("lang", "VARCHAR")])


# ---------------------------------------------------------------------------
# simhash_pairs
# ---------------------------------------------------------------------------

def _simhash_u64(text: str) -> int:
    toks = _split_ws(text.lower().strip(" "))
    hs = np.array([_hs(t) for t in toks], dtype=np.int64).astype(np.uint64)
    bit_idx = np.arange(64, dtype=np.uint64)
    bits = (hs[:, None] >> bit_idx[None, :]) & np.uint64(1)
    votes = bits.sum(axis=0).astype(np.int64) * 2 - len(hs)
    sim = ((votes > 0).astype(np.uint64) << bit_idx).sum(dtype=np.uint64)
    return int(sim)


def simhash_pairs_rows(
    sf: str, max_hamming: int = 16, max_bucket: int = 1000,
):
    docs = _docs(sf)
    sims = {doc_id: _simhash_u64(text) for doc_id, text, _ in docs}
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, sim in sims.items():
        for c in range(4):
            chunk = (sim >> (c * 16)) & 0xFFFF
            buckets.setdefault((c, chunk), []).append(doc_id)
    cand: set[tuple[int, int]] = set()
    for ids in buckets.values():
        if len(ids) > max_bucket:
            continue
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    out = []
    for a, b in sorted(cand):
        ham = bin(sims[a] ^ sims[b]).count("1")
        if ham <= max_hamming:
            out.append((a, b, ham))
    return out


def simhash_pairs_sql(sf: str | None = None) -> str:
    rows = simhash_pairs_rows(sf or sf_dir())
    return values_sql(
        rows,
        [("id_a", "BIGINT"), ("id_b", "BIGINT"), ("hamming", "INTEGER")],
    )


# ---------------------------------------------------------------------------
# Embedding geometry mirrors (sequential IEEE folds, Spark order)
# ---------------------------------------------------------------------------

@functools.lru_cache(maxsize=1 << 16)
def _plane_w(p: int, i: int) -> float:
    """Mirror of dedup.plane_weight: pmod(xxhash64('plane{p}:{i}'), 2000)
    / 1000.0 - 1.0."""
    return (_hs(f"plane{p}:{i}") % 2000) / 1000.0 - 1.0


def _fold_sum(vals) -> float:
    """Sequential left fold — Spark ``aggregate(..., acc + v)`` order."""
    acc = 0.0
    for v in vals:
        acc = acc + v
    return acc


def _dot_plane(vec: list[float], p: int) -> float:
    prods = [x * _plane_w(p, i) for i, x in enumerate(vec)]
    return _fold_sum(prods)


def _cosine_exact(a: list[float], b: list[float]) -> float:
    dot = _fold_sum([x * y for x, y in zip(a, b)])
    na = math.sqrt(_fold_sum([x * x for x in a]))
    nb = math.sqrt(_fold_sum([x * x for x in b]))
    if na == 0 or nb == 0:
        return 0.0
    return dot / (na * nb)


def _cell_id(vec: list[float], n_planes: int) -> int:
    acc = 0
    for p in range(n_planes):
        acc = acc * 2 + (1 if _dot_plane(vec, p) > 0 else 0)
    return acc


# ---------------------------------------------------------------------------
# ivf_ann
# ---------------------------------------------------------------------------

def ivf_ann_rows(sf: str, k: int = 5, n_planes: int = 6, n_queries: int = 5):
    emb = _embeddings(sf)
    cells = {vid: _cell_id(v, n_planes) for vid, v in emb}
    out = []
    for qid, qv in emb:
        if qid >= n_queries:
            continue
        qcell = cells[qid]
        probes = {qcell} | {qcell ^ (1 << p) for p in range(n_planes)}
        scored = [
            (vid, _cosine_exact(v, qv))
            for vid, v in emb
            if cells[vid] in probes
        ]
        scored.sort(key=lambda t: (-t[1], t[0]))
        for rank, (vid, cos) in enumerate(scored[:k], start=1):
            out.append((qid, vid, rank, _round_half_up(cos, 4)))
    return out


def ivf_ann_sql(sf: str | None = None) -> str:
    rows = ivf_ann_rows(sf or sf_dir())
    return values_sql(
        rows,
        [
            ("query_id", "BIGINT"),
            ("vec_id", "BIGINT"),
            ("rank", "INTEGER"),
            ("cosine_r", "DOUBLE"),
        ],
    )


# ---------------------------------------------------------------------------
# Planted near-dup corpus + embedding LSH near-dup / recall
# ---------------------------------------------------------------------------

PLANT_SHIFT = 1_000_000


def _perturbed(vid: int, vec: list[float]) -> list[float]:
    """Mirror of __spark_entry__._with_planted_near_dups: one noisy copy
    per vector, eps stepped by vec_id so planted cosines span ~[0.8, 1)."""
    rms = math.sqrt(_fold_sum([x * x for x in vec]) / len(vec))
    eps = 0.3 + float(vid % 8) * 0.13
    out = []
    for j, x in enumerate(vec):
        n = (_hs(f"nd:{vid}:{j}") % 2000) / 1000.0 - 1.0
        out.append(x + (eps * rms) * n)
    return out


def _planted_corpus(sf: str) -> list[tuple[int, list[float]]]:
    emb = _embeddings(sf)
    return emb + [(vid + PLANT_SHIFT, _perturbed(vid, v)) for vid, v in emb]


def _lsh_near_dup_pairs(
    corpus: list[tuple[int, list[float]]],
    threshold: float,
    bits_per_table: int,
    n_tables: int,
    max_bucket: int = 2000,
):
    """Mirror of dedup.embedding_near_dup_pairs (band-OR LSH + verify)."""
    by_id = dict(corpus)
    buckets: dict[tuple[int, str], list[int]] = {}
    for vid, v in corpus:
        for t in range(n_tables):
            bits = "".join(
                "1" if _dot_plane(v, t * bits_per_table + j) > 0 else "0"
                for j in range(bits_per_table)
            )
            buckets.setdefault((t, bits), []).append(vid)
    cand: set[tuple[int, int]] = set()
    for ids in buckets.values():
        if len(ids) > max_bucket:
            continue
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    out = []
    for a, b in sorted(cand):
        cos = _cosine_exact(by_id[a], by_id[b])
        if cos >= threshold:
            out.append((a, b, cos))
    return out


def embedding_near_dup_rows(
    sf: str, threshold: float = 0.8,
    bits_per_table: int = 6, n_tables: int = 10,
):
    pairs = _lsh_near_dup_pairs(
        _planted_corpus(sf), threshold, bits_per_table, n_tables
    )
    return [(a, b, _round_half_up(c, 4)) for a, b, c in pairs]


def embedding_near_dup_sql(sf: str | None = None) -> str:
    rows = embedding_near_dup_rows(sf or sf_dir())
    return values_sql(
        rows,
        [("id_a", "BIGINT"), ("id_b", "BIGINT"), ("cosine_r", "DOUBLE")],
    )


def _exact_true_pairs(
    corpus: list[tuple[int, list[float]]], threshold: float
) -> set[tuple[int, int]]:
    """All-pairs exact truth; numpy prefilter with a margin, sequential-fold
    recheck for anything near the threshold (FP-order safety)."""
    ids = [vid for vid, _ in corpus]
    V = np.array([v for _, v in corpus], dtype=np.float64)
    norms = np.linalg.norm(V, axis=1)
    safe = np.where(norms == 0, 1.0, norms)
    C = (V / safe[:, None]) @ (V / safe[:, None]).T
    margin = 1e-9
    truth: set[tuple[int, int]] = set()
    n = len(ids)
    ii, jj = np.triu_indices(n, 1)
    vals = C[ii, jj]
    sure = vals >= threshold + margin
    near = np.abs(vals - threshold) < margin
    for a, b in zip(ii[sure], jj[sure]):
        truth.add((min(ids[a], ids[b]), max(ids[a], ids[b])))
    for a, b in zip(ii[near], jj[near]):
        if _cosine_exact(corpus[a][1], corpus[b][1]) >= threshold:
            truth.add((min(ids[a], ids[b]), max(ids[a], ids[b])))
    return truth


def embedding_near_dup_recall_rows(
    sf: str, threshold: float = 0.8,
    bits_per_table: int = 6, n_tables: int = 10,
):
    corpus = _planted_corpus(sf)
    found = _lsh_near_dup_pairs(corpus, threshold, bits_per_table, n_tables)
    truth = _exact_true_pairs(corpus, threshold)
    n_true, n_found = len(truth), len(found)
    recall = _round_half_up(
        n_found / n_true if n_true else 1.0, 4
    )
    return [(n_true, n_found, recall)]


def embedding_near_dup_recall_sql(sf: str | None = None) -> str:
    rows = embedding_near_dup_recall_rows(sf or sf_dir())
    return values_sql(
        rows,
        [("n_true", "BIGINT"), ("n_found", "BIGINT"), ("recall_r", "DOUBLE")],
    )


# ---------------------------------------------------------------------------
# doc_fingerprints
# ---------------------------------------------------------------------------

def doc_fingerprints_rows(sf: str, shingle: int = 8):
    out = []
    for doc_id, text, _lang in _docs(sf):
        norm = _WS.sub(" ", text.strip(" ").lower())
        fp = _hs(norm)
        cnt = max(len(text) - (shingle - 1), 1)
        winnow = min(_hs(text[i : i + shingle]) for i in range(cnt))
        out.append((doc_id, fp, winnow))
    return out


def doc_fingerprints_sql(sf: str | None = None) -> str:
    rows = doc_fingerprints_rows(sf or sf_dir())
    return values_sql(
        rows,
        [
            ("doc_id", "BIGINT"),
            ("fingerprint", "BIGINT"),
            ("winnow", "BIGINT"),
        ],
    )


# ---------------------------------------------------------------------------
# media_features
# ---------------------------------------------------------------------------

def media_features_rows(sf: str, n_bins: int = 16):
    """Mirror of q_media_features: every 5th doc is a REAL PNG payload
    (channels 1 + doc_id % 3), doc_id % 5 == 1 is a REAL baseline JPEG
    (block-constant gray at unit quant — bit-exact by the DC-only
    argument in operators/jpeg.py) and doc_id % 5 == 2 is a REAL GIF
    (gray source through the identity 256-gray palette — LZW is
    lossless, so the decoded RGB is each gray value tripled); the twin
    computes features from the arithmetic PIXELS directly — the Spark
    side only matches if its stdlib PNG inflate→unfilter / JPEG
    Huffman→IDCT / GIF sub-block→LZW→palette roundtrips are
    bit-exact."""
    out = []
    for doc_id, _text, _lang in _docs(sf):
        seed = doc_id % 251
        if doc_id % 5 == 1:
            w, h = 16 + 8 * (doc_id % 3), 8 + 8 * (doc_id % 2)
            nb = (w // 8) * (h // 8)
            vals = (
                (
                    np.arange(nb, dtype=np.uint32) * np.uint32(2654435761)
                    + np.uint32(seed)
                ) >> 24
            ).astype(np.uint8)
            body = np.repeat(vals, 64)  # each block is 64 identical pixels
            codec, c = "jpeg", 1
        else:
            w, h = 16 + doc_id % 16, 8 + doc_id % 8
            lane = doc_id % 5
            palette_png = lane == 0 and doc_id % 2 == 1
            gen_c = 1 + doc_id % 3 if lane == 0 and not palette_png else 1
            n = w * h * gen_c
            rng = (
                np.arange(n, dtype=np.uint32) * np.uint32(2654435761)
                + np.uint32(seed)
            )
            body = (rng >> 24).astype(np.uint8)
            if palette_png:
                # round 5: odd lane-0 docs are color-type-3 PNGs through
                # the identity gray ramp — decoded RGB is each index
                # tripled, identical math to the GIF lane below
                codec, c = "png", 3
                body = np.repeat(body, 3)
            elif lane == 0:
                codec, c = "png", gen_c
            elif lane == 2:
                # GIF decodes to palette-expanded RGB: each gray value
                # lands in all three channels, so every histogram bucket
                # triples and the normalized features are unchanged —
                # but channel count and the raveled body are RGB
                codec, c = "gif", 3
                body = np.repeat(body, 3)
            else:
                codec, c = "nfsi-fake", 1
        hist, _ = np.histogram(body, bins=n_bins, range=(0, 256))
        total = hist.sum() or 1
        f0 = float(np.float32(hist[0] / total))
        out.append((
            doc_id, codec, w, h, c, n_bins,
            _round_half_up(f0, 6),
        ))
    return out


def media_features_sql(sf: str | None = None) -> str:
    rows = media_features_rows(sf or sf_dir())
    return values_sql(
        rows,
        [("doc_id", "BIGINT"), ("codec", "VARCHAR"), ("width", "INTEGER"),
         ("height", "INTEGER"), ("channels", "INTEGER"),
         ("n_bins", "INTEGER"), ("f0", "DOUBLE")],
    )


# ---------------------------------------------------------------------------
# audio_features (operators/wav.py)
# ---------------------------------------------------------------------------

# IMA/DVI ADPCM spec constants — restated here (not imported from the
# engine) so the oracle's recurrence is an independent implementation
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_roundtrip_scalar(samples: list[int], block_frames: int = 505):
    """Scalar-python IMA ADPCM encode→decode of a mono int16 signal —
    the spec recurrence per sample, fully independent of the engine's
    vectorized numpy blocks.  Mirrors the engine's framing decisions
    (sample 0 = block predictor, step index carried across blocks, final
    partial block padded by repeating the last sample, fact count clips
    the decode)."""
    n = len(samples)
    n_blocks = -(-n // block_frames)
    padded = samples + [samples[-1]] * (n_blocks * block_frames - n)
    index = 0
    decoded: list[int] = []
    for b in range(n_blocks):
        blk = padded[b * block_frames:(b + 1) * block_frames]
        pred = blk[0]
        decoded.append(pred)
        for t in range(1, block_frames):
            step = _IMA_STEPS[index]
            diff = blk[t] - pred
            code = 0
            if diff < 0:
                code = 8
                diff = -diff
            if diff >= step:
                code |= 4
                diff -= step
            if diff >= step >> 1:
                code |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                code |= 1
            d = step >> 3
            if code & 1:
                d += step >> 2
            if code & 2:
                d += step >> 1
            if code & 4:
                d += step
            if code & 8:
                d = -d
            pred = max(-32768, min(32767, pred + d))
            index = max(0, min(88, index + _IMA_INDEX[code & 7]))
            decoded.append(pred)
    return decoded[:n]


def audio_features_rows(sf: str):
    """Mirror of q_audio_features WITHOUT the RIFF roundtrip: the twin
    synthesizes the per-doc sample arrays from the same deterministic
    formulas and computes the features directly — for the ADPCM lane,
    through its OWN scalar encode→decode of the spec recurrence — so the
    Spark side only matches if ``wav_encode``/``adpcm_encode`` →
    ``wav_decode`` reproduces every sample bit-exactly (PCM is lossless;
    float32 quantization is the documented rint-clip; ADPCM requires two
    independent implementations of the full codec path to agree).

    Lanes (doc_id % 6): 0 = PCM16 mono 16 kHz, 1 = PCM16 stereo 44.1 kHz,
    2 = PCM8 mono 8 kHz (odd sizes exercise RIFF pad bytes), 3 = an image
    payload — not audio, all-NULL feature row, 4 = IEEE float32 mono
    48 kHz, 5 = IMA ADPCM mono 8 kHz (final-block padding + fact clip)."""
    out = []
    for doc_id, _text, _lang in _docs(sf):
        lane = doc_id % 6
        if lane == 3:
            out.append((doc_id,) + (None,) * 8)
            continue
        seed = doc_id % 251
        if lane == 2:
            n, ch, rate, codec = 64 + doc_id % 255, 1, 8000, "pcm8"
            u = (
                (
                    np.arange(n, dtype=np.uint32) * np.uint32(2654435761)
                    + np.uint32(seed)
                ) >> 24
            ).astype(np.uint8)
            s = ((u.astype(np.int16) - 128) << 8)[:, None]
        elif lane == 4:
            n, ch, rate, codec = 64 + doc_id % 129, 1, 48000, "float32"
            rng = (
                np.arange(n, dtype=np.uint32) * np.uint32(2654435761)
                + np.uint32(seed)
            )
            f = (
                (rng >> 8).astype(np.float64) / float(1 << 23) - 1.0
            ).astype(np.float32)
            s = np.clip(
                np.rint(f.astype(np.float64) * 32767.0), -32768, 32767
            ).astype(np.int16)[:, None]
        elif lane == 5:
            n, ch, rate, codec = 505 + doc_id % 300, 1, 8000, "adpcm"
            t = np.arange(n, dtype=np.float64)
            sig = (
                8000 * np.sin(t / (16 + seed % 7))
                + 2000 * np.sin(t / (5 + seed % 3))
            ).astype(np.int16)
            s = np.array(
                _ima_roundtrip_scalar([int(v) for v in sig]),
                dtype=np.int16,
            )[:, None]
        else:
            ch = 2 if lane == 1 else 1
            n = 64 + doc_id % (127 if lane == 1 else 257)
            rate = 44100 if lane == 1 else 16000
            codec = "pcm16"
            rng = (
                np.arange(n * ch, dtype=np.uint32) * np.uint32(2654435761)
                + np.uint32(seed)
            )
            s = (
                ((rng >> 8) & np.uint32(0xFFFF))
                .astype(np.uint16).view(np.int16).reshape(n, ch)
            )
        x = s.astype(np.int32)
        rms = float(np.sqrt(np.mean(np.float64(x) ** 2)))
        peak = int(np.max(np.abs(x)))
        c0 = s[:, 0]
        zcr = int(np.count_nonzero(np.signbit(c0[:-1]) != np.signbit(c0[1:])))
        out.append((
            doc_id, codec, rate, ch, n, n * 1000 // rate,
            _round_half_up(rms, 6), peak, zcr,
        ))
    return out


def audio_features_sql(sf: str | None = None) -> str:
    rows = audio_features_rows(sf or sf_dir())
    return values_sql(
        rows,
        [("doc_id", "BIGINT"), ("codec", "VARCHAR"),
         ("sample_rate", "INTEGER"), ("channels", "INTEGER"),
         ("n_frames", "BIGINT"), ("duration_ms", "BIGINT"),
         ("rms_r", "DOUBLE"), ("peak", "INTEGER"),
         ("zero_crossings", "INTEGER")],
    )


# ---------------------------------------------------------------------------
# video_frames (operators/avi.py + multimodal.sample_frames)
# ---------------------------------------------------------------------------


def video_frames_rows(sf: str, n_bins: int = 16, stride: int = 2):
    """Mirror of q_video_frames WITHOUT any container or codec code: the
    twin computes each sampled frame's PIXELS from the deterministic
    generation formulas and derives frame_idx/ts_ms/metadata/f0 directly,
    so the Spark side only matches if the whole chain is exact — AVI RIFF
    walk → per-frame JPEG Huffman/IDCT decode (bit-exact by the DC-only
    block-constant argument, operators/jpeg.py) → PNG re-encode →
    PNG header parse + inflate/unfilter decode → histogram.

    Lanes: doc_id % 11 == 0 → NULL payload, row disappears;
    doc_id % 4 == 3 → NFSV fake container (frame f reuses the fake-image
    PRNG at seed+f); else → MJPEG AVI (frame f is block-constant gray at
    unit quant, seed (doc_id + 17·f) % 251).  Every sampled frame is
    emitted as a real PNG, so codec is 'png' for all rows."""
    out = []
    for doc_id, _text, _lang in _docs(sf):
        if doc_id % 11 == 0:
            continue
        fps = 5 + doc_id % 5
        n_frames = 2 + doc_id % 3
        if doc_id % 4 == 3:
            w, h = 12, 6
            seed = doc_id % 251

            def frame_body(f, w=w, h=h, seed=seed):
                rng = (
                    np.arange(w * h, dtype=np.uint32)
                    * np.uint32(2654435761)
                    + np.uint32(seed + f)
                )
                return (rng >> 24).astype(np.uint8)
        else:
            w, h = 16 + 8 * (doc_id % 3), 8 + 8 * (doc_id % 2)

            def frame_body(f, w=w, h=h, doc_id=doc_id):
                nb = (w // 8) * (h // 8)
                vals = (
                    (
                        np.arange(nb, dtype=np.uint32)
                        * np.uint32(2654435761)
                        + np.uint32((doc_id + 17 * f) % 251)
                    ) >> 24
                ).astype(np.uint8)
                return np.repeat(vals, 64)
        for i in range(0, n_frames, stride):
            body = frame_body(i)
            hist, _ = np.histogram(body, bins=n_bins, range=(0, 256))
            total = hist.sum() or 1
            f0 = float(np.float32(hist[0] / total))
            out.append((
                doc_id, i, i * 1000 // fps, "png", w, h, 1, n_bins,
                _round_half_up(f0, 6),
            ))
    return out


def video_frames_sql(sf: str | None = None) -> str:
    rows = video_frames_rows(sf or sf_dir())
    return values_sql(
        rows,
        [("doc_id", "BIGINT"), ("frame_idx", "INTEGER"),
         ("ts_ms", "BIGINT"), ("codec", "VARCHAR"),
         ("width", "INTEGER"), ("height", "INTEGER"),
         ("channels", "INTEGER"), ("n_bins", "INTEGER"),
         ("f0", "DOUBLE")],
    )


# ---------------------------------------------------------------------------
# decontaminate (operators/corpus.py)
# ---------------------------------------------------------------------------

def decontaminate_rows(sf: str, n: int = 4, test_mod: int = 17):
    """Mirror of q_decontaminate: test set = doc_id % test_mod == 0, flag
    every remaining (train) doc whose word n-grams collide with any test
    gram.  (doc_id, n_grams, hit_grams, contaminated)."""
    docs = _docs(sf)
    test_hashes: set[int] = set()
    for doc_id, text, _lang in docs:
        if doc_id % test_mod == 0 and text is not None:
            for g in _word_ngrams(text, n):
                test_hashes.add(_hs(g))
    out = []
    for doc_id, text, _lang in docs:
        if doc_id % test_mod == 0:
            continue
        grams = _word_ngrams(text, n) if text is not None else []
        hits = sum(1 for g in grams if _hs(g) in test_hashes)
        out.append((doc_id, len(grams), hits, hits >= 1))
    return out


def decontaminate_sql(sf: str | None = None) -> str:
    rows = decontaminate_rows(sf or sf_dir())
    return values_sql(
        rows,
        [("doc_id", "BIGINT"), ("n_grams", "INTEGER"),
         ("hit_grams", "BIGINT"), ("contaminated", "BOOLEAN")],
    )


# ---------------------------------------------------------------------------
# sample_stratified (operators/corpus.py)
# ---------------------------------------------------------------------------

SAMPLE_FRACTIONS = {"en": 0.5, "zh": 0.25, "fr": 0.1}
SAMPLE_DEFAULT = 0.05
SAMPLE_SEED = 7
_SAMPLE_BUCKETS = 1_000_000


def sample_stratified_rows(sf: str):
    """Mirror of q_sample_stratified: keep doc iff
    pmod(xxhash64(seed::long, doc_id), 1e6) < fraction[lang]·1e6.
    Python %'s non-negative result on a positive modulus matches Spark
    pmod exactly.  (doc_id, lang)."""
    from ..functions.xxh64 import xxh64_chain

    out = []
    for doc_id, _text, lang in _docs(sf):
        h = xxh64_chain([("long", SAMPLE_SEED), ("long", doc_id)])
        bucket = h % _SAMPLE_BUCKETS
        frac = SAMPLE_FRACTIONS.get(lang, SAMPLE_DEFAULT)
        if bucket < int(round(frac * _SAMPLE_BUCKETS)):
            out.append((doc_id, lang))
    return out


def sample_stratified_sql(sf: str | None = None) -> str:
    rows = sample_stratified_rows(sf or sf_dir())
    return values_sql(rows, [("doc_id", "BIGINT"), ("lang", "VARCHAR")])


def ivf_recall_rows(
    sf: str, k: int = 5, n_planes: int = 6, n_queries: int = 50,
    depths: tuple = (1, 2, 3),
):
    """Recall@k curve of IVF multi-probe vs exact brute-force truth, per
    probe depth: (probe_depth, n_hit, n_true, recall_r, scan_frac_r).
    Same exact sequential-fold cosine + (-cos, vid) tie-break as the Spark
    side.  Makes the IVF recall/scan tradeoff driver-visible instead of
    tests-only (VERDICT r1 'What's missing' #3)."""
    import itertools

    emb = _embeddings(sf)
    cells = {vid: _cell_id(v, n_planes) for vid, v in emb}
    truths = {}
    for qid, qv in emb:
        if qid >= n_queries:
            continue
        exact = sorted(
            ((vid, _cosine_exact(v, qv)) for vid, v in emb),
            key=lambda t: (-t[1], t[0]),
        )
        truths[qid] = {vid for vid, _ in exact[:k]}
    out = []
    for depth in depths:
        n_true = n_hit = scanned = 0
        for qid, qv in emb:
            if qid >= n_queries:
                continue
            qcell = cells[qid]
            probes = {qcell}
            for d in range(1, depth + 1):
                for bits in itertools.combinations(range(n_planes), d):
                    m = 0
                    for b in bits:
                        m |= 1 << b
                    probes.add(qcell ^ m)
            cand = [
                (vid, _cosine_exact(v, qv))
                for vid, v in emb
                if cells[vid] in probes
            ]
            scanned += len(cand)
            cand.sort(key=lambda t: (-t[1], t[0]))
            got = {vid for vid, _ in cand[:k]}
            n_true += len(truths[qid])
            n_hit += len(truths[qid] & got)
        out.append((
            depth, n_hit, n_true,
            _round_half_up(n_hit / float(n_true), 4),
            _round_half_up(scanned / float(n_queries * len(emb)), 4),
        ))
    return out


def ivf_recall_sql(sf: str | None = None) -> str:
    rows = ivf_recall_rows(sf or sf_dir())
    return values_sql(
        rows,
        [("probe_depth", "INTEGER"), ("n_hit", "BIGINT"),
         ("n_true", "BIGINT"), ("recall_r", "DOUBLE"),
         ("scan_frac_r", "DOUBLE")],
    )


# ---------------------------------------------------------------------------
# crawl_e2e — the whole crawl loop, pinned at value level
# ---------------------------------------------------------------------------

def crawl_e2e_rows():
    """Per-(wave, site, role) rollup of the single-threaded Python crawl
    oracle (plans/oracle_crawler.py) over the deterministic synthetic-site
    fixture — the same independent scheduler the ordering/seen-set tests
    compare against (tests/test_crawl.py), lifted into the driver-visible
    correctness gate (VERDICT r3 #2).  Counts and UTF-8 text byte sums per
    group pin wave membership, robots gating, dedup, pagination expansion
    AND extracted text at value level; the engine side must reproduce all
    of it at any parallelism to hash-match."""
    from ..plans.oracle_crawler import crawl_oracle
    from ..sources.fixture import Fixture, FixtureConfig

    fx = Fixture(FixtureConfig())
    pages = {p["url"]: p["html"] for p in fx.pages}
    res = crawl_oracle(pages, fx.seeds, fx.robots)
    agg: dict[tuple, tuple[int, int]] = {}
    for e in res.extracted:
        key = (e["wave"], e["site"], e["role"])
        n, b = agg.get(key, (0, 0))
        t = e.get("text") or ""
        agg[key] = (n + 1, b + len(t.encode("utf-8")))
    return [
        (w, s, r, n, b)
        for (w, s, r), (n, b) in sorted(agg.items())
    ]


def crawl_e2e_sql(sf: str | None = None) -> str:
    rows = crawl_e2e_rows()
    return values_sql(
        rows,
        [("wave", "INTEGER"), ("site", "VARCHAR"), ("role", "VARCHAR"),
         ("n_pages", "BIGINT"), ("text_bytes", "BIGINT")],
    )


# ---------------------------------------------------------------------------
# link_pagerank — fixed-point PageRank over the crawled link graph
# ---------------------------------------------------------------------------

def link_pagerank_rows(k: int = 8, unit: int = 10**12, top: int = 25):
    """Python-oracle twin of ``operators/linkrank.pagerank`` over the
    fixture crawl's link graph: crawl with the independent single-threaded
    scheduler (plans/oracle_crawler.py), build (src, canonicalized dst)
    edges restricted to crawled vertices, and run the SAME integer
    recurrence the Spark operator documents.  All arithmetic is int —
    sums are order-free — so the match is exact, not tolerance-based."""
    from ..functions.canonical_py import canonicalize_url
    from ..plans.oracle_crawler import crawl_oracle
    from ..sources.fixture import Fixture, FixtureConfig

    fx = Fixture(FixtureConfig())
    pages = {p["url"]: p["html"] for p in fx.pages}
    res = crawl_oracle(pages, fx.seeds, fx.robots)
    vs = sorted({e["url"] for e in res.extracted})
    vset = set(vs)
    es = set()
    for e in res.extracted:
        for link in e["links"] or []:
            d = canonicalize_url(link["url"])
            if d in vset:
                es.add((e["url"], d))
    n = len(vs)
    outdeg: dict[str, int] = {}
    for s, _ in es:
        outdeg[s] = outdeg.get(s, 0) + 1
    dn, dd = 85, 100
    base = unit // n
    resid = (unit * (dd - dn) // dd) // n
    pr = {v: base for v in vs}
    for _ in range(k):
        dang = sum(pr[v] for v in vs if v not in outdeg)
        dang_share = dang // n
        inflow = {v: 0 for v in vs}
        for s, d in es:
            inflow[d] += pr[s] // outdeg[s]
        pr = {v: resid + (dn * (inflow[v] + dang_share)) // dd for v in vs}
    ranked = sorted(pr.items(), key=lambda kv: (-kv[1], kv[0]))[:top]
    return list(ranked)


def link_pagerank_sql(sf: str | None = None) -> str:
    return values_sql(
        link_pagerank_rows(),
        [("url", "VARCHAR"), ("pr_units", "BIGINT")],
    )


# ---------------------------------------------------------------------------
# recrawl_delta — seen-set invalidation → re-fetch → O14 merge
# ---------------------------------------------------------------------------

def recrawl_delta_rows():
    """Python-oracle twin of the recrawl/invalidation cycle (VERDICT r4
    task #5): crawl the fixture site once, invalidate a deterministic
    quarter of the fetched URLs (a delete from the exact seen set, as
    ``run_crawl(recrawl=...)`` does), re-crawl them as a
    recrawl queue against MUTATED page content, and merge with new-wins
    precedence (O14, ``operators/merge.union_with_precedence``).

    The mutation (``Alpha``→``Gamma`` in the HTML bytes) changes every
    page's extracted text but no URL, so the rollup's ``refetch_text_bytes``
    pins that re-fetched records carry the NEW content while
    ``n_records``/``text_bytes`` pin that non-invalidated records survive
    untouched and re-discovered links of recrawled pages stay deduped
    against the imported seen set."""
    from ..plans.oracle_crawler import crawl_oracle
    from ..sources.fixture import Fixture, FixtureConfig

    fx = Fixture(FixtureConfig())
    pages1 = {p["url"]: p["html"] for p in fx.pages}
    r1 = crawl_oracle(pages1, fx.seeds, fx.robots)
    old = {e["url"]: e for e in r1.extracted}
    rc = {u for u in old if _hs(u) % 4 == 0}
    seeds2 = [
        {
            "url": u, "site": old[u]["site"],
            "category": old[u]["category"], "role": old[u]["role"],
            "priority": 0, "depth": 0, "url_template": None,
        }
        for u in sorted(rc)
    ]
    pages2 = {u: h.replace(b"Alpha", b"Gamma") for u, h in pages1.items()}
    r2 = crawl_oracle(pages2, seeds2, fx.robots, seen_prior=r1.seen - rc)
    new = {e["url"]: e for e in r2.extracted}
    merged = dict(old)
    merged.update(new)

    def _b(e) -> int:
        return len((e.get("text") or "").encode("utf-8"))

    agg: dict[tuple, tuple[int, int, int, int]] = {}
    for e in merged.values():
        k = (e["site"], e["role"])
        n, b, rn, rb = agg.get(k, (0, 0, 0, 0))
        agg[k] = (n + 1, b + _b(e), rn, rb)
    for e in new.values():
        k = (e["site"], e["role"])
        n, b, rn, rb = agg[k]
        agg[k] = (n, b, rn + 1, rb + _b(e))
    return [
        (s, r, n, b, rn, rb)
        for (s, r), (n, b, rn, rb) in sorted(agg.items())
    ]


def recrawl_delta_sql(sf: str | None = None) -> str:
    rows = recrawl_delta_rows()
    return values_sql(
        rows,
        [("site", "VARCHAR"), ("role", "VARCHAR"),
         ("n_records", "BIGINT"), ("text_bytes", "BIGINT"),
         ("n_refetched", "BIGINT"), ("refetch_text_bytes", "BIGINT")],
    )


# ---------------------------------------------------------------------------
# charset_decode (round 5): legacy-encoding sniff + decode over synthesized
# per-lane payloads.  The synth builder (functions/charset.synth_page) is
# INPUT generation shared with the Spark query; the prediction below uses
# only the lane table and python codecs — never sniff_charset/decode_html —
# so a meta-prescan or label-normalization bug in the engine diverges here.
# ---------------------------------------------------------------------------

def charset_decode_rows(sf: str):
    from no_fasel_scrapers_spark.functions.charset import synth_page

    agg: dict[tuple[str, str], list[int]] = {}
    for doc_id, text, _lang in _docs(sf):
        _, expected, codec, source = synth_page(int(doc_id), text or "")
        a = agg.setdefault((codec, source), [0, 0, 0])
        a[0] += 1          # n_docs
        a[1] += 1          # n_ok: a correct engine decodes every lane
        a[2] += len(expected)  # sum_chars of the decoded page
    return [
        (c, s, n, ok, ch)
        for (c, s), (n, ok, ch) in sorted(agg.items())
    ]


def charset_decode_sql(sf: str | None = None) -> str:
    rows = charset_decode_rows(sf or sf_dir())
    return values_sql(
        rows,
        [("charset", "VARCHAR"), ("source", "VARCHAR"),
         ("n_docs", "BIGINT"), ("n_ok", "BIGINT"),
         ("sum_chars", "BIGINT")],
    )


# ---------------------------------------------------------------------------
# substring_dedup (round 5): ExactSubstr over the documents table.  The
# mirror groups occurrences by the EXACT window string where the engine
# groups by xxhash64 of it — an intentional independence: a hash-collision
# or seed bug in the engine's keying diverges here instead of being
# mirrored.  Tokenization mirrors ws_tokens (Java \s class, drop-empties);
# canonical occurrence and span-union semantics are pinned in the
# operator's docstring.  The mirror holds every window string in a dict
# (corpus tokens × width bytes), so it only suits small SFs.
# ---------------------------------------------------------------------------

def substring_dedup_rows(sf: str, width: int = 32):
    import hashlib

    occs: dict[str, list[tuple[int, int]]] = {}
    toks_by_doc: dict[int, tuple[str | None, list[str]]] = {}
    for doc_id, text, _lang in _docs(sf):
        toks = (
            [t for t in _split_ws(text) if t != ""]
            if text is not None
            else []
        )
        toks_by_doc[int(doc_id)] = (text, toks)
        for i in range(1, len(toks) - width + 2):
            key = " ".join(toks[i - 1:i - 1 + width])
            occs.setdefault(key, []).append((int(doc_id), i))
    removed: dict[int, set[int]] = {}
    for lst in occs.values():
        if len(lst) < 2:
            continue
        canon = min(lst)
        for d, p in lst:
            if (d, p) == canon:
                continue
            removed.setdefault(d, set()).update(range(p, p + width))
    out = []
    for doc_id, (text, toks) in toks_by_doc.items():
        rm = removed.get(doc_id)
        if rm:
            kept = [t for j, t in enumerate(toks, start=1) if j not in rm]
            clean, n_removed = " ".join(kept), len(toks) - len(kept)
        else:
            clean, n_removed = text, 0
        md5 = (
            hashlib.md5(clean.encode("utf-8")).hexdigest()
            if clean is not None
            else None
        )
        out.append((doc_id, md5, n_removed))
    return sorted(out)


def substring_dedup_sql(sf: str | None = None) -> str:
    rows = substring_dedup_rows(sf or sf_dir())
    return values_sql(
        rows,
        [("doc_id", "BIGINT"), ("clean_md5", "VARCHAR"),
         ("n_removed", "INTEGER")],
    )
