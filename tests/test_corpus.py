"""Unit tests for corpus-cleaning operators (ext/corpus.py,
gopher_rules, domain_mix) — planted fixtures with hand-computed
expectations; the oracle differential gate covers the full-table
versions."""

import pytest

from pyspark.sql import functions as F

from pac_data_pipeline_spark.ext.corpus import (
    boilerplate_chunks,
    chunk_dedup,
    unicode_clean,
)
from pac_data_pipeline_spark.ext.sampling import domain_mix, hash_bucket
from pac_data_pipeline_spark.ext.text import gopher_rules


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_dedup_drops_repeated_window(spark):
    # doc 1 and doc 2 share an identical 4-token chunk; doc 1 wins
    # (lower id), doc 2 keeps only its unique second chunk.
    shared = "a b c d"
    df = _docs(
        spark,
        [(1, shared + " e f g h"), (2, shared + " x y z w")],
    )
    out = {
        r["doc_id"]: r
        for r in chunk_dedup(df, chunk_tokens=4).collect()
    }
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["clean_text"] == "a b c d e f g h"
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["clean_text"] == "x y z w"


def test_chunk_dedup_within_doc_repeat(spark):
    # the same window repeated INSIDE one doc is also deduped
    df = _docs(spark, [(7, "p q r s p q r s")])
    row = chunk_dedup(df, chunk_tokens=4).collect()[0]
    assert row["n_chunks"] == 2
    assert row["n_kept"] == 1
    assert row["clean_text"] == "p q r s"


def test_boilerplate_chunks_doc_frequency(spark):
    shared = "nav home about contact"
    df = _docs(
        spark,
        [
            (1, shared + " aaa bbb ccc ddd"),
            (2, shared + " eee fff ggg hhh"),
            (3, "unique text only here"),
        ],
    )
    rows = boilerplate_chunks(df, chunk_tokens=4, min_docs=2).collect()
    assert len(rows) == 1
    assert rows[0]["chunk_text"] == shared
    assert rows[0]["n_docs"] == 2


def test_gopher_rules_flags(spark):
    good = " ".join(
        ["the", "and", "of"] + [f"word{i}" for i in range(30)]
    )
    short = "too short"
    no_alpha = " ".join(["123"] * 40)
    df = _docs(spark, [(1, good), (2, short), (3, no_alpha)])
    out = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["ok_word_count"] is False
    assert out[3]["keep"] is False
    assert out[3]["ok_alpha"] is False
    assert out[3]["ok_stopwords"] is False
    # metric sanity: mean word length of "123"*40 is exactly 3
    assert out[3]["mean_word_len"] == pytest.approx(3.0)


def test_c4_page_filters_line_and_page_gates(spark):
    """Hand-built pages hit every C4 gate independently: terminal
    punctuation, min words per line, the javascript line drop, the
    lorem-ipsum and brace page drops, the min-kept-lines page gate,
    and NULL-text handling — with clean_text rejoining exactly the
    surviving lines."""
    from pac_data_pipeline_spark.ext.text import c4_page_filters

    good = (
        "The quick brown fox jumps.\n"
        "no terminal punctuation here\n"
        "Short one.\n"
        'A quoted closing line she said."\n'
        "Beware JavaScript ads everywhere.\n"
        "Is this a real question?"
    )
    lorem = "One good line here.\nAnother good line too.\nA third fine line.\nbut Lorem Ipsum dolor."
    brace = "One good line here.\nAnother good line too.\nA third fine line.\nfunction() { return 1; }."
    thin = "Only one keepable line survives here.\nnope\nno.\n"
    df = _docs(
        spark,
        [(1, good), (2, lorem), (3, brace), (4, thin), (5, None)],
    )
    out = {r["doc_id"]: r for r in c4_page_filters(df).collect()}
    # doc 1: 6 lines; kept = terminal-punct + >=3 words + no
    # javascript → lines 1, 4, 6 ("Short one." fails min words)
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (6, 3)
    assert out[1]["keep"] is True
    assert out[1]["clean_text"] == (
        "The quick brown fox jumps.\n"
        'A quoted closing line she said."\n'
        "Is this a real question?"
    )
    # lorem/brace pages keep enough lines (the markers are PAGE
    # gates, so their own lines pass line-level) but die at page
    # level
    assert out[2]["n_kept"] == 4 and out[2]["keep"] is False
    assert out[3]["n_kept"] == 4 and out[3]["keep"] is False
    # thin page: only 1 kept line < 3 → dropped
    assert out[4]["n_kept"] == 1 and out[4]["keep"] is False
    # NULL text: the empty page, not a NULL row
    assert (out[5]["n_lines"], out[5]["n_kept"], out[5]["keep"]) == (
        0, 0, False,
    )
    assert out[5]["clean_text"] == ""


def test_unicode_clean_nfc_and_controls(spark):
    # e + combining acute (NFD) must normalize to precomposed é;
    # control chars stripped; whitespace runs collapsed.
    nfd = "café"
    df = _docs(
        spark,
        [(1, nfd + "  x\x00y\tz"), (2, "already clean")],
    )
    out = {r["doc_id"]: r for r in unicode_clean(df).collect()}
    assert out[1]["clean_text"] == "café xy z"
    assert out[1]["changed"] is True
    assert out[2]["clean_text"] == "already clean"
    assert out[2]["changed"] is False


def test_domain_mix_rates_and_determinism(spark):
    rows = [(i, "src0" if i < 400 else "src1") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # budget 100: src0 target 0.5 -> rate 50/400, src1 0.5 -> 50/100;
    # src2 absent from data, srcX absent from targets -> dropped
    out = domain_mix(
        df, targets={"src0": 0.5, "src1": 0.5}, budget=100
    )
    got = out.groupBy("source").count().collect()
    by_src = {r["source"]: r["count"] for r in got}
    # md5-bucket sampling is exact-threshold, approximate-rate:
    # expect ~50 per source, and an identical set on a second run
    assert 25 <= by_src["src0"] <= 75
    assert 25 <= by_src["src1"] <= 75
    first = {r["doc_id"] for r in out.collect()}
    second = {
        r["doc_id"]
        for r in domain_mix(
            df, targets={"src0": 0.5, "src1": 0.5}, budget=100
        ).collect()
    }
    assert first == second


def test_domain_mix_caps_rate_at_one(spark):
    df = spark.createDataFrame(
        [(i, "src0") for i in range(20)], "doc_id long, source string"
    )
    # target share implies more rows than exist -> rate capped at 1,
    # every row kept
    out = domain_mix(df, targets={"src0": 1.0}, budget=1000)
    assert out.count() == 20


def test_hash_bucket_range(spark):
    df = spark.range(1000).select(
        hash_bucket(F.col("id"), 100).alias("b")
    )
    mm = df.agg(F.min("b"), F.max("b")).collect()[0]
    assert mm[0] >= 0 and mm[1] < 100


def _brute_suffix_dup(docs, cap=64, bucket=8, threshold=20):
    """Independent reference: all-pairs max common prefix per
    token-aligned suffix, capped; < bucket reports 0."""
    seps = set(" \t\n\f\r")
    sfx = []  # (doc_id, suffix[:cap])
    for d, t in docs:
        t = t or ""
        for p in range(len(t)):
            if t[p] not in seps and (p == 0 or t[p - 1] in seps):
                sfx.append((d, t[p : p + cap]))

    def common(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    out = {d: [0, 0, 0] for d, _ in docs}  # n_starts, max, n_ge_t
    for i, (d, s) in enumerate(sfx):
        best = 0
        for j, (_, s2) in enumerate(sfx):
            if i != j:
                best = max(best, common(s, s2))
        if best < bucket:
            best = 0
        out[d][0] += 1
        out[d][1] = max(out[d][1], best)
        out[d][2] += 1 if best >= threshold else 0
    return out


def test_suffix_duplication_matches_bruteforce(spark):
    from pac_data_pipeline_spark.ext.corpus import suffix_duplication

    shared = "a remarkably duplicated sentence that recurs verbatim"
    docs = [
        (0, f"intro text then {shared} and an ending"),
        (1, f"{shared} opens this one instead"),
        (2, "entirely unrelated content with no repeats at all"),
        (3, "short"),
        (4, ""),          # no suffixes: zeros via the left join
        (5, None),        # null text: zeros via the left join
        (6, "xy xy xy"),  # self-repeats below the bucket floor -> 0
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_starts, r.max_dup_len, r.n_dup_ge_t)
        for r in suffix_duplication(df).collect()
    }
    want = _brute_suffix_dup(docs)
    assert set(got) == set(range(7))
    for d in got:
        assert got[d] == tuple(want[d]), (d, got[d], want[d])
    # the planted duplicate is found at full length in both carriers
    # (the trailing space after "verbatim" is shared too: 53 + 1)
    assert got[0][1] == len(shared) + 1
    assert got[1][1] == len(shared) + 1
    # sub-bucket self-repeats report 0, not 2
    assert got[6] == (3, 0, 0)


def test_suffix_duplication_identical_docs_cap(spark):
    """Two identical documents: every suffix duplicates at min(cap,
    remaining length) — the least(length) guard keeps identical
    strings from reporting cap when the suffix is shorter."""
    from pac_data_pipeline_spark.ext.corpus import suffix_duplication

    text = "one two three four five six seven eight nine ten " * 3
    df = spark.createDataFrame(
        [(0, text), (1, text)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in suffix_duplication(df).collect()}
    want = _brute_suffix_dup([(0, text), (1, text)])
    for d in (0, 1):
        assert (
            rows[d].n_starts, rows[d].max_dup_len, rows[d].n_dup_ge_t
        ) == tuple(want[d])
    assert rows[0].max_dup_len == 64  # long shared text hits the cap


def test_cdc_chunks_shift_resistance(spark):
    """The defining CDC property: a prefix insertion changes ONLY
    the first chunk — every later chunk
    fingerprint survives and dedupes across the two versions. Also:
    chunks reassemble to the original text, short/empty/NULL texts
    behave per contract."""
    from pac_data_pipeline_spark.ext.corpus import cdc_chunks, cdc_dup_profile

    base = ("the quick brown fox jumps over the lazy dog "
            "again and again and again")
    df = spark.createDataFrame(
        [(0, base), (1, "XX" + base), (2, "short"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    rows = cdc_chunks(df).collect()
    by_doc = {}
    for r in sorted(rows, key=lambda r: (r.doc_id, r.chunk_ord)):
        by_doc.setdefault(r.doc_id, []).append(r)
    assert "".join(r.chunk for r in by_doc[0]) == base
    assert "".join(r.chunk for r in by_doc[1]) == "XX" + base
    assert [r.chunk for r in by_doc[2]] == ["short"]  # single chunk
    assert 3 not in by_doc and 4 not in by_doc        # null/empty drop
    # shift resistance: all chunks after the first are shared
    h0 = [r.chunk_hash for r in by_doc[0]]
    h1 = [r.chunk_hash for r in by_doc[1]]
    assert len(h0) > 1, "fixture must produce multiple chunks"
    assert h0[1:] == h1[1:]
    assert h0[0] != h1[0]

    prof = {
        r.chunk_hash: r
        for r in cdc_dup_profile(cdc_chunks(df)).collect()
    }
    for h in h0[1:]:
        # >= 2, not == 2: the fixture's "again and again" tail can
        # legitimately repeat a chunk WITHIN one doc when a
        # boundary lands inside the repetition
        assert prof[h].n_docs == 2 and prof[h].n_occurrences >= 2


def test_cdc_tiers_equivalent_chunk_stats(spark):
    """Chunking reassembles a real corpus losslessly: total chunk
    chars == total corpus chars."""
    from pac_data_pipeline_spark.ext.corpus import cdc_chunks

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    total_chars = docs.selectExpr(
        "sum(length(text)) AS t"
    ).first().t
    agg = (
        cdc_chunks(docs)
        .selectExpr("count(*) AS n", "sum(length(chunk)) AS chars")
        .first()
    )
    assert agg.n > 0
    assert agg.chars == total_chars
