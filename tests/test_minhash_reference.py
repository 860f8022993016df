"""The production MinHash path (xxhash64, ``portable=False``) against a
pure-Python reference: XXH64, one-permutation-hashing signatures,
banding and the Jaccard estimate. DuckDB has no xxhash, so this is
the exact check for ``x_minhash_near_dup``; the md5 path is checked
against DuckDB by ``x_minhash_portable``."""

from __future__ import annotations

import random
import struct

import pytest

from pac_data_pipeline_spark.ext.dedup_text import (
    minhash_near_dup_pairs,
    minhash_signature,
)

_M = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` as a signed 64-bit integer (Spark's long)."""
    seed &= _M
    n, i = len(data), 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M,
            (seed + _P2) & _M,
            seed,
            (seed - _P1) & _M,
        ]
        while i + 32 <= n:
            for j in range(4):
                (lane,) = struct.unpack_from("<Q", data, i + 8 * j)
                v[j] = _round(v[j], lane)
            i += 32
        h = (
            _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        ) & _M
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _round(0, lane), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        (word,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ ((word * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def spark_xxhash64(*values) -> int:
    """Spark's ``xxhash64(v1, v2, …)``: seed 42, each value hashed
    with the previous hash as its seed; strings as UTF-8 bytes,
    longs as 8 little-endian bytes."""
    h = 42
    for v in values:
        data = v.encode() if isinstance(v, str) else struct.pack("<q", v)
        h = xxh64(data, h)
    return h


def ref_signature(text: str | None, n: int = 64, k: int = 5):
    """OPH signature of :func:`minhash_signature`: char k-grams (one
    clamped gram for texts shorter than k), bucket = hash mod n,
    per-bucket min densified with the global min. None for NULL text."""
    if text is None:
        return None
    grams = [text[i : i + k] for i in range(max(len(text) - k + 1, 1))]
    mins: dict[int, int] = {}
    for g in grams:
        h = spark_xxhash64(g)
        b = h % n
        mins[b] = min(mins.get(b, h), h)
    gmin = min(mins.values())
    return [mins.get(b, gmin) for b in range(n)]


def ref_pairs(sigs: dict, n: int, bands: int, threshold: float) -> set:
    r = n // bands
    buckets: dict[tuple[int, int], list] = {}
    for doc_id, sig in sigs.items():
        for b in range(bands):
            key = (b, spark_xxhash64(*sig[b * r : (b + 1) * r]))
            buckets.setdefault(key, []).append(doc_id)
    cands = {
        (a, c)
        for ids in buckets.values()
        for a in ids
        for c in ids
        if a < c
    }
    out = set()
    for a, c in cands:
        # k/64 has at most 6 decimals, so round(·, 6) is exact
        est = sum(x == y for x, y in zip(sigs[a], sigs[c])) / n
        if est >= threshold:
            out.add((a, c, est))
    return out


def test_xxh64_reference_is_standard_and_matches_spark(spark):
    """The reference is XXH64 (published test vectors), and
    Spark's ``xxhash64`` is XXH64 with seed 42 over UTF-8 bytes for
    strings of every length class (tail bytes, 4-byte word, 8-byte
    lanes, 32-byte stripes), multi-byte text, and chained longs."""
    vectors = [
        (b"", 0, 0xEF46DB3751D8E999),
        (b"a", 0, 0xD24EC4F1A98C6E5B),
        (b"xxhash", 20141025, 0xB559B98D844E0635),
        (b"Nobody inspects the spammish repetition", 0, 0xFBCEA83C8A378BF1),
    ]
    for data, seed, want in vectors:
        assert xxh64(data, seed) & _M == want, data
    strings = [
        "", "a", "abc", "abcd", "abcdefgh", "hello world",
        "x" * 31, "y" * 32, "z" * 33, "the quick brown fox " * 5,
        "naïve café", "日本語のテキスト", "emoji 😀 here", "tab\tvt\x0bnbsp\xa0",
    ]
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = [r[0] for r in df.selectExpr("xxhash64(s)").collect()]
    assert got == [spark_xxhash64(s) for s in strings]
    longs = [(0, 1, -1, 2**63 - 1), (-(2**63), 42, 7, 123456789)]
    ldf = spark.createDataFrame(longs, "a long, b long, c long, d long")
    got = [r[0] for r in ldf.selectExpr("xxhash64(a, b, c, d)").collect()]
    assert got == [spark_xxhash64(*t) for t in longs]


def _edge_docs():
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest while the sun sets slowly"
    )
    long_doc = "".join(f"token{i} " for i in range(900))  # > 4096 chars
    return [
        (1, base),
        (2, base),  # exact duplicate
        (3, base.replace("quick", "speedy")),
        (4, base.replace("lazy", "sleepy").replace("deep", "dark")),
        (5, None),
        (6, ""),
        (7, "abc"),  # shorter than k: one clamped gram
        (8, "abc"),
        (9, "abcd"),
        (10, "naïve café — 日本語のテキスト 😀 and more text"),
        (11, "naïve café — 日本語のテキスト 😀 and more texts"),
        (12, long_doc),
        (13, long_doc.replace("token450 ", "tokenXYZ ")),
        (14, "completely different text about columnar engines"),
    ]


def test_minhash_signature_matches_reference(spark):
    """Every signature equals the reference; a NULL-text document
    has none."""
    docs = _edge_docs()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: list(r.minhash) for r in minhash_signature(df).collect()}
    want = {i: ref_signature(t) for i, t in docs if t is not None}
    assert got == want


@pytest.mark.parametrize("bands, threshold", [(16, 0.7), (8, 0.5)])
def test_minhash_near_dup_pairs_match_reference(spark, bands, threshold):
    """Candidate pairs and Jaccard estimates of the xxhash64 pipeline
    equal the reference exactly, on the edge texts plus a seeded
    corpus with one-word edits of earlier documents planted in it."""
    docs = _edge_docs()
    rng = random.Random(11)
    words = [f"w{i}" for i in range(40)]
    texts: list[str] = []
    for _ in range(120):
        if texts and rng.random() < 0.3:
            toks = rng.choice(texts).split(" ")
            toks[rng.randrange(len(toks))] = rng.choice(words)
        else:
            toks = [rng.choice(words) for _ in range(rng.randint(20, 60))]
        texts.append(" ".join(toks))
    docs += [(1000 + i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.est_jaccard)
        for r in minhash_near_dup_pairs(
            df, bands=bands, threshold=threshold
        ).collect()
    }
    sigs = {i: ref_signature(t) for i, t in docs if t is not None}
    want = ref_pairs(sigs, 64, bands, threshold)
    assert got == want
    assert {(1, 2, 1.0), (7, 8, 1.0)} <= got
    assert sum(a >= 1000 for a, _, _ in got) >= 10
