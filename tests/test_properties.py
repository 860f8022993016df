"""Property-based tests (hypothesis) for the pure state machines —
the pieces whose edge cases (batch boundaries, gap ties, empty
segments) are hard to enumerate by hand.

The streaming sessionizer is checked against a trivially-correct
single-pass reference loop over arbitrary event streams split into
arbitrary micro-batches: total order of events is fixed, the batch
boundaries are the adversarial input."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from pac_data_pipeline_spark.streaming.stateful import make_sessionizer

GAP_US = 30 * 60 * 1_000_000

import pytest


@pytest.fixture(scope="session")
def spark_session_holder(spark):
    """Session-scoped alias so @given examples reuse one SparkSession."""
    return spark


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=300))
def test_image_decoders_never_crash_on_garbage(payload):
    """The three image decoders must raise ValueError (the dispatch
    contract) on arbitrary garbage — never hang, index-error, or
    return nonsense. Feeds raw fuzz AND fuzz wearing each format's
    magic prefix so the parsers get past the signature check."""
    import numpy as np

    from pac_data_pipeline_spark.ext.gif import decode_gif
    from pac_data_pipeline_spark.ext.jpeg import decode_jpeg
    from pac_data_pipeline_spark.ext.multimodal import (
        decode_bmp,
        decode_png,
        decode_tiff,
    )

    prefixes = [
        b"",
        b"BM",
        b"\x89PNG\r\n\x1a\n",
        b"\xff\xd8\xff\xe0",
        b"GIF89a",
        b"II*\x00",
    ]
    for prefix in prefixes:
        data = prefix + payload
        for dec in (decode_bmp, decode_png, decode_jpeg, decode_gif, decode_tiff):
            try:
                w, h, px = dec(data)
            except ValueError:
                continue  # the contract: reject loudly
            # a successful parse of fuzz must still be self-consistent
            assert w > 0 and h > 0
            assert isinstance(px, np.ndarray)
            assert px.shape[0] == h and px.shape[1] == w


@settings(max_examples=100, deadline=None)
@given(
    st.binary(min_size=1, max_size=40),
    st.integers(min_value=1, max_value=3),
)
def test_png_truncation_rejected_cleanly(seed, cut_divisor):
    """Truncating a valid PNG anywhere must yield ValueError, not a
    partial decode or a non-ValueError crash."""
    from pac_data_pipeline_spark.ext.multimodal import (
        decode_png,
        encode_png,
    )

    payload = encode_png(6, 6, seed)
    cut = len(payload) // (cut_divisor + 1)
    if cut <= 8:
        return  # shorter than the signature — rejected trivially
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_png(payload[:cut])


def naive_sessions(ts_list: list[int], values: list[float]):
    """Reference sessionizer: plain loop, one event at a time."""
    sessions = []
    start = last = None
    n, val = 0, 0.0
    for t, v in zip(ts_list, values):
        if start is None:
            start, last, n, val = t, t, 1, v
        elif t - last > GAP_US:
            sessions.append((n, start, round(val, 2)))
            start, last, n, val = t, t, 1, v
        else:
            last, n, val = t, n + 1, val + v
    if start is not None:
        sessions.append((n, start, round(val, 2)))
    return sessions


class FakeState:
    def __init__(self):
        self._value = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, value):
        self._value = value


@st.composite
def event_stream_with_batches(draw):
    """Sorted event times (µs, second resolution to provoke exact
    gap ties) + random micro-batch split points."""
    n = draw(st.integers(min_value=1, max_value=40))
    deltas = draw(
        st.lists(
            # skew towards the 30-min boundary: 0..45 min gaps
            st.integers(min_value=0, max_value=45 * 60),
            min_size=n,
            max_size=n,
        )
    )
    ts = []
    t = 1_600_000_000  # seconds
    for d in deltas:
        t += d
        ts.append(t * 1_000_000)
    values = draw(
        st.lists(
            st.floats(min_value=0.0, max_value=100.0, allow_nan=False),
            min_size=n,
            max_size=n,
        )
    )
    n_cuts = draw(st.integers(min_value=0, max_value=min(5, n - 1)))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=n - 1),
                min_size=n_cuts,
                max_size=n_cuts,
                unique=True,
            )
        )
        if n > 1
        else []
    )
    return ts, values, cuts


@given(event_stream_with_batches())
@settings(max_examples=200, deadline=None)
def test_sessionizer_equals_naive_under_any_batching(data):
    ts, values, cuts = data
    fn = make_sessionizer(gap_minutes=30)
    state = FakeState()

    bounds = [0, *cuts, len(ts)]
    emitted = []
    for lo, hi in zip(bounds, bounds[1:]):
        batch = pd.DataFrame(
            {
                "user_id": [7] * (hi - lo),
                "event_id": list(range(lo, hi)),
                "ts": pd.to_datetime([t * 1000 for t in ts[lo:hi]], unit="ns"),
                "value": values[lo:hi],
            }
        )
        out = list(fn((7,), iter([batch]), state))
        if out:
            emitted.append(pd.concat(out, ignore_index=True))

    result = pd.concat(emitted, ignore_index=True)
    # closed sessions from every batch + open sessions only from the
    # final batch state
    closed = result[result.closed]
    final_open = emitted[-1][~emitted[-1].closed] if emitted else result.iloc[0:0]
    got = [
        (int(r.n_events), round(float(r.session_value), 2))
        for _, r in pd.concat([closed, final_open]).iterrows()
    ]
    want = [(n, v) for n, _, v in naive_sessions(ts, values)]
    assert got == want


@given(event_stream_with_batches())
@settings(max_examples=100, deadline=None)
def test_sessionizer_session_ids_are_sequential(data):
    ts, values, cuts = data
    fn = make_sessionizer(gap_minutes=30)
    state = FakeState()
    bounds = [0, *cuts, len(ts)]
    frames = []
    for lo, hi in zip(bounds, bounds[1:]):
        batch = pd.DataFrame(
            {
                "user_id": [7] * (hi - lo),
                "event_id": list(range(lo, hi)),
                "ts": pd.to_datetime([t * 1000 for t in ts[lo:hi]], unit="ns"),
                "value": values[lo:hi],
            }
        )
        out = list(fn((7,), iter([batch]), state))
        frames.extend(out)
    all_rows = pd.concat(frames, ignore_index=True)
    closed_ids = list(all_rows[all_rows.closed].session_id)
    assert closed_ids == list(range(len(closed_ids)))


# -- chunk-level dedup vs naive reference ------------------------------------


def naive_chunk_dedup(docs: list[tuple[int, list[str]]], w: int):
    """Reference implementation: first corpus-wide occurrence of each
    w-token window (by doc id, then position) survives."""
    seen = set()
    out = {}
    for doc_id, toks in sorted(docs):
        chunks = [
            " ".join(toks[i : i + w]) for i in range(0, max(len(toks), 1), w)
        ]
        kept = []
        for c in chunks:  # within-doc repeats dedup too
            if c not in seen:
                kept.append(c)
                seen.add(c)
        out[doc_id] = (len(chunks), len(kept), " ".join(kept))
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_chunk_dedup_matches_naive(spark_session_holder, token_lists):
    from pac_data_pipeline_spark.ext.corpus import chunk_dedup

    spark = spark_session_holder
    docs = [(i, toks) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in docs],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["clean_text"])
        for r in chunk_dedup(df, chunk_tokens=3).collect()
    }
    assert got == naive_chunk_dedup(docs, 3)


def naive_jaccard_join(docs: list[tuple[int, str]], t: float, n: int = 3):
    """Reference: brute-force all-pairs n-gram Jaccard ≥ t."""
    import re

    gram_sets = {}
    for doc_id, text in docs:
        if text is None or not text.strip():
            continue
        toks = re.split(r"\s+", text.strip())
        upper = max(len(toks) - n + 1, 1)
        grams = {" ".join(toks[i : i + n]) for i in range(upper)}
        gram_sets[doc_id] = grams
    out = set()
    ids = sorted(gram_sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ga, gb = gram_sets[a], gram_sets[b]
            union = len(ga | gb)
            if union and len(ga & gb) / union >= t:
                out.add((a, b, round(len(ga & gb) / union, 6)))
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            min_size=0,
            max_size=10,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_jaccard_join_complete_vs_bruteforce(spark_session_holder, token_lists):
    """Prefix filtering must be COMPLETE: every qualifying pair the
    all-pairs product would find, including boundary jaccards from a
    tiny shared vocabulary — the adversarial case for candidate
    pruning."""
    from pac_data_pipeline_spark.ext.dedup_text import (
        jaccard_similarity_join,
    )

    spark = spark_session_holder
    docs = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_similarity_join(df, threshold=0.4).collect()
    }
    assert got == naive_jaccard_join(docs, 0.4)


def _naive_lev(a, b):
    m, n = len(a), len(b)
    d = list(range(n + 1))
    for i in range(1, m + 1):
        prev, d[0] = d[0], i
        for j in range(1, n + 1):
            prev, d[j] = d[j], min(
                d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
            )
    return d[n]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc", min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    )
)
def test_edit_join_complete_vs_bruteforce(spark_session_holder, strings):
    """Ed-Join's occurrence-annotated q-gram prefix scheme must be
    COMPLETE over a tiny alphabet — the adversarial case where
    repeated grams make the bag/set distinction load-bearing and
    boundary distances cluster at the threshold."""
    from pac_data_pipeline_spark.ext.dedup_text import edit_distance_join

    spark = spark_session_holder
    k, q = 2, 2
    docs = [(i, s) for i, s in enumerate(strings)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in edit_distance_join(df, max_dist=k, q=q).collect()
    }
    eligible = [(i, s) for i, s in docs if s and len(s) >= (k + 1) * q]
    want = set()
    for x, (i, a) in enumerate(eligible):
        for j, b in eligible[x + 1:]:
            d = _naive_lev(a, b)
            if d <= k:
                want.add((i, j, d))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            min_size=0,
            max_size=10,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_containment_join_complete_vs_bruteforce(
    spark_session_holder, token_lists
):
    """The asymmetric containment prefix scheme must be COMPLETE
    over a tiny shared vocabulary — min_grams=1 so every surviving
    doc participates and boundary ratios cluster at the
    threshold."""
    import re

    from pac_data_pipeline_spark.ext.dedup_text import containment_join

    spark = spark_session_holder
    docs = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.containment)
        for r in containment_join(
            df, threshold=0.6, min_grams=1, n=3
        ).collect()
    }
    g = {}
    for i, text in docs:
        if not text or not text.strip():
            continue
        toks = re.split(r"\s+", text.strip())
        upper = max(len(toks) - 3 + 1, 1)
        g[i] = {" ".join(toks[k:k + 3]) for k in range(upper)}
    want = set()
    for i in g:
        for j in g:
            if i == j:
                continue
            c = len(g[i] & g[j]) / len(g[i])
            if c >= 0.6:
                want.add((i, j, round(c, 6)))
    assert got == want


def naive_asof(left, right, direction):
    """Reference as-of: per left row scan all right rows of its
    group. left/right: list of (by, t, v)."""
    out = []
    for by, t, _ in left:
        cands = [(rt, rv) for rby, rt, rv in right if rby == by]
        back = max(((rt, rv) for rt, rv in cands if rt <= t), default=None)
        fwd = min(((rt, rv) for rt, rv in cands if rt >= t), default=None)
        if direction == "backward":
            pick = back
        elif direction == "forward":
            pick = fwd
        elif back is None:
            pick = fwd
        elif fwd is None:
            pick = back
        else:
            pick = back if (t - back[0]) <= (fwd[0] - t) else fwd
        out.append((by, t, pick[0] if pick else None,
                    pick[1] if pick else None))
    return sorted(out, key=lambda r: (r[0], r[1]))


@settings(max_examples=6, deadline=None)
@given(
    st.data(),
)
def test_asof_join_matches_naive(spark_session_holder, data):
    """All three directions against a brute-force reference, with
    NULL value columns (the struct-carry case a per-column
    ignorenulls window gets wrong) and left/right timestamp ties."""
    import datetime

    from pac_data_pipeline_spark.operators.joins import asof_join

    spark = spark_session_holder
    ts_strategy = st.integers(min_value=0, max_value=12)
    left = data.draw(
        st.lists(
            st.tuples(st.integers(0, 1), ts_strategy),
            min_size=1,
            max_size=8,
        )
    )
    # right side unique per (by, ts) — the operator's contract
    right_keys = data.draw(
        st.lists(
            st.tuples(st.integers(0, 1), ts_strategy),
            min_size=0,
            max_size=8,
            unique=True,
        )
    )
    vals = data.draw(
        st.lists(
            st.one_of(st.none(), st.floats(0, 10, width=32)),
            min_size=len(right_keys),
            max_size=len(right_keys),
        )
    )
    base = datetime.datetime(2024, 1, 1)

    def mk_ts(i):
        return base + datetime.timedelta(minutes=i)

    left_rows = [(by, mk_ts(t), float(i)) for i, (by, t) in enumerate(left)]
    right_rows = [
        (by, mk_ts(t), float(v) if v is not None else None)
        for (by, t), v in zip(right_keys, vals)
    ]
    ldf = spark.createDataFrame(
        left_rows, "user_id int, ts timestamp, lv double"
    )
    rdf = spark.createDataFrame(
        right_rows or [(0, mk_ts(0), None)][:0],
        "user_id int, ts timestamp, value double",
    )
    for direction in ("backward", "forward", "nearest"):
        got = sorted(
            (
                (r.user_id, r.ts, r.ts_matched, r.value_matched)
                for r in asof_join(
                    ldf, rdf, direction=direction
                ).collect()
            ),
            key=lambda r: (r[0], r[1]),
        )
        want = naive_asof(
            [(by, ts, v) for by, ts, v in left_rows],
            [(by, ts, v) for by, ts, v in right_rows],
            direction,
        )
        want = [(by, t, mt, mv) for by, t, mt, mv in want]
        assert got == want, (direction, got, want)


# ---------------------------------------------------------------------------
# HTML / URL contract properties (ext/html.py)
# ---------------------------------------------------------------------------

_BODY_TEXT = st.lists(
    st.sampled_from(
        list("abcXYZ019 &<>\"'\t\n") + ["&amp;", "&lt;", "<p>", "</p>"]
    ),
    min_size=0,
    max_size=60,
).map("".join)


@settings(max_examples=6, deadline=None)
@given(st.lists(_BODY_TEXT, min_size=1, max_size=8))
def test_html_wrap_extract_recovers_body(spark_session_holder, texts):
    """extract(wrap(text)) must contain the whitespace-collapsed,
    markup-free body text for ANY input — including text that itself
    contains tags, quotes, and pre-escaped entities (the wrap escapes
    them; extraction decodes exactly once)."""
    import re

    from pac_data_pipeline_spark.ext.html import html_extract, html_wrap

    spark = spark_session_holder
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: r.extracted for r in html_extract(html_wrap(df)).collect()}
    for i, t in enumerate(texts):
        want = re.sub(r"[ \t\n\f\r]+", " ", t).strip()
        assert want in got[i], (t, got[i])


_URL = st.one_of(
    st.from_regex(
        r"(HT|ht)tps?://[A-Za-z0-9.]{1,12}(:(80|443|8080))?"
        r"(/[A-Za-z0-9]{0,6}){0,3}"
        r"(\?(utm_[a-z]{1,4}=[0-9]{1,3}|[a-z]{1,4}=[0-9]{1,3})"
        r"(&(utm_[a-z]{1,4}=[0-9]{1,3}|[a-z]{1,4}=[0-9]{1,3})){0,3})?"
        r"(#[A-Za-z0-9]{0,8})?",
        fullmatch=True,
    ),
    st.from_regex(r"/[A-Za-z0-9/]{0,16}(\?utm_[a-z]{1,3}=[0-9]{1,2})?",
                  fullmatch=True),
)


@settings(max_examples=6, deadline=None)
@given(st.lists(_URL, min_size=1, max_size=10))
def test_url_normalize_idempotent(spark_session_holder, urls):
    """Canonicalization must be idempotent — normalize(normalize(u))
    == normalize(u) — or frontier dedup by canonical URL misses
    (two passes over the same crawl disagree). Also: no utm_ param
    and no fragment may survive a single pass."""
    from pyspark.sql import functions as F

    from pac_data_pipeline_spark.ext.html import url_normalize_col

    spark = spark_session_holder
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i long, url string"
    )
    out = df.select(
        "i",
        url_normalize_col(F.col("url")).alias("once"),
        url_normalize_col(url_normalize_col(F.col("url"))).alias("twice"),
    ).collect()
    for r in out:
        assert r.once == r.twice, (urls[r.i], r.once, r.twice)
        assert "#" not in r.once
        assert "utm_" not in r.once, (urls[r.i], r.once)


@given(
    st.lists(
        st.floats(min_value=-1000, max_value=1000,
                  allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=15, deadline=None)
def test_ewma_matches_python_reference(spark_session_holder, series):
    """The codegen HOF fold must equal the plain-Python recursion
    with the identical per-step floor-round — on any series."""
    spark = spark_session_holder
    df = spark.createDataFrame(
        [("k", i, float(v)) for i, v in enumerate(series)],
        "k string, i long, value double",
    )
    from pac_data_pipeline_spark.operators.timeseries import ewma_smooth

    got = {r.i: r.ewma for r in
           ewma_smooth(df, "k", ("i",), "value").collect()}
    import math

    prev = None
    for i, v in enumerate(series):
        prev = v if prev is None else (
            math.floor((0.3 * v + 0.7 * prev) * 1e10 + 0.5) / 1e10
        )
        assert got[i] == prev, (i, got[i], prev)


@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=20),
                  st.booleans()),
        min_size=2,
        max_size=60,
    ).filter(lambda xs: any(y for _, y in xs) and any(not y for _, y in xs))
)
@settings(max_examples=15, deadline=None)
def test_auc_matches_naive_pair_count(spark_session_holder, pairs):
    """The distinct-score-aggregate U must equal the O(n²) naive
    pair count P(pos>neg) + ½P(=) on any labeled sample."""
    spark = spark_session_holder
    df = spark.createDataFrame(
        [(float(s), y) for s, y in pairs], "s double, y boolean"
    )
    from pyspark.sql import functions as F

    from pac_data_pipeline_spark.operators.stats import auc

    got = auc(df, "s", F.col("y")).collect()[0]
    pos = [s for s, y in pairs if y]
    neg = [s for s, y in pairs if not y]
    u = sum(
        1.0 if p > n else (0.5 if p == n else 0.0)
        for p in pos for n in neg
    )
    assert got.auc == round(u / (len(pos) * len(neg)), 6)


@given(
    st.lists(
        st.tuples(st.integers(min_value=1, max_value=5),
                  st.sampled_from("abc")),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=15, deadline=None)
def test_streaks_match_python_reference(spark_session_holder, seq):
    """Longest-run detection must equal a linear Python scan with
    the same earliest-island tiebreak."""
    spark = spark_session_holder
    rows = [("k", i, v) for i, (_, v) in enumerate(seq)]
    df = spark.createDataFrame(rows, "k string, i long, v string")
    from pac_data_pipeline_spark.operators.timeseries import (
        longest_streaks,
    )

    r = longest_streaks(df, "k", ("i",), "v").collect()[0]
    runs = []
    for _, v in seq:
        if runs and runs[-1][0] == v:
            runs[-1][1] += 1
        else:
            runs.append([v, 1])
    best = max(runs, key=lambda t: t[1])  # max is stable -> earliest
    assert (r.streak_len, r.streak_value, r.n_islands) == \
           (best[1], best[0], len(runs))


@given(
    st.lists(
        st.lists(
            st.floats(min_value=-2, max_value=2,
                      allow_nan=False, allow_infinity=False),
            min_size=3, max_size=3,
        ),
        min_size=4,
        max_size=24,
    )
)
@settings(max_examples=10, deadline=None)
def test_kmeans_matches_python_reference(spark_session_holder, vecs):
    """The distributed fixed-point Lloyd loop must equal a plain-
    Python implementation of the same contract (grid quantization,
    smallest-id init, integer distances, smallest-cid ties,
    integer-ratio mean, empty-cluster carry) on arbitrary input."""
    import math

    spark = spark_session_holder
    k, n_iter = 2, 3
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    from pac_data_pipeline_spark.ext.kmeans import kmeans_assign

    got = {r.vec_id: (r.cluster, r.dist) for r in
           kmeans_assign(df, k=k, n_iter=n_iter).collect()}

    # reference: float32 ingestion then the identical integer math
    import numpy as np

    q = {
        i: [int(math.floor(float(np.float32(x)) * 1000 + 0.5))
            for x in v]
        for i, v in enumerate(vecs)
    }
    cents = [list(q[i]) for i in sorted(q)[:k]]

    def assign():
        out = {}
        for i, v in q.items():
            best = None
            for cid, c in enumerate(cents):
                d = sum((a - b) * (a - b) for a, b in zip(v, c))
                if best is None or d < best[1]:
                    best = (cid, d)
            out[i] = best
        return out

    for _ in range(n_iter - 1):
        a = assign()
        for cid in range(k):
            members = [q[i] for i, (c, _) in a.items() if c == cid]
            if members:
                cents[cid] = [
                    math.floor(
                        (2 * sum(m[d] for m in members) + len(members))
                        / (2 * len(members))
                    )
                    for d in range(len(cents[cid]))
                ]
    ref = {i: (c, d) for i, (c, d) in assign().items()}
    assert got == ref


@given(
    st.lists(
        st.tuples(st.integers(min_value=1, max_value=6),
                  st.integers(min_value=1, max_value=8)),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=15, deadline=None)
def test_frequent_pairs_matches_bruteforce(spark_session_holder, lines):
    """Support and confidences must equal an itertools brute force
    over the distinct baskets, including the top-k tie order."""
    import itertools
    from collections import Counter, defaultdict

    spark = spark_session_holder
    df = spark.createDataFrame(lines, "l_orderkey long, l_partkey long")
    from pac_data_pipeline_spark.operators.basket import frequent_pairs

    got = [(r.item_a, r.item_b, r.support, r.conf_a_b, r.conf_b_a)
           for r in frequent_pairs(df, min_support=2, k=10).collect()]

    baskets = defaultdict(set)
    for bk, it in lines:
        baskets[bk].add(it)
    item_n = Counter()
    pair_n = Counter()
    for items in baskets.values():
        for it in items:
            item_n[it] += 1
        for a, b in itertools.combinations(sorted(items), 2):
            pair_n[(a, b)] += 1
    ref = sorted(
        (
            (a, b, n, round(n / item_n[a], 6), round(n / item_n[b], 6))
            for (a, b), n in pair_n.items()
            if n >= 2
        ),
        key=lambda t: (-t[2], t[0], t[1]),
    )[:10]
    assert got == ref


@given(
    st.lists(
        st.floats(min_value=-100, max_value=100,
                  allow_nan=False, allow_infinity=False),
        min_size=2,
        max_size=40,
    )
)
@settings(max_examples=15, deadline=None)
def test_iqr_outliers_matches_numpy(spark_session_holder, values):
    """Quartiles must match numpy's type-7 (linear) interpolation
    after the shared floor-round, and the outlier count must match
    a literal Python fence check."""
    import math

    import numpy as np

    spark = spark_session_holder
    df = spark.createDataFrame([("g", float(v)) for v in values],
                               "g string, value double")
    from pac_data_pipeline_spark.operators.stats import iqr_outliers

    r = iqr_outliers(df, "g", "value").collect()[0]

    def r4(x):
        return math.floor(x * 10000 + 0.5) / 10000.0

    q1 = r4(float(np.percentile(values, 25, method="linear")))
    q3 = r4(float(np.percentile(values, 75, method="linear")))
    lo = r4(
        float(np.percentile(values, 25, method="linear"))
        - 1.5 * (float(np.percentile(values, 75, method="linear"))
                 - float(np.percentile(values, 25, method="linear")))
    )
    hi = r4(
        float(np.percentile(values, 75, method="linear"))
        + 1.5 * (float(np.percentile(values, 75, method="linear"))
                 - float(np.percentile(values, 25, method="linear")))
    )
    assert (r.q1, r.q3) == (q1, q3)
    assert r.n_outliers == sum(1 for v in values if v < lo or v > hi)


@given(
    st.lists(
        st.floats(min_value=-1000, max_value=1000,
                  allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=15, deadline=None)
def test_holt_matches_python_reference(spark_session_holder, series):
    """The coupled level/trend fold must equal the plain-Python
    recursion with identical per-step floor-rounds on any series."""
    import math

    spark = spark_session_holder
    df = spark.createDataFrame(
        [("k", i, float(v)) for i, v in enumerate(series)],
        "k string, i long, value double",
    )
    from pac_data_pipeline_spark.operators.timeseries import holt_smooth

    got = {r.i: (r.level, r.trend) for r in
           holt_smooth(df, "k", ("i",), "value").collect()}

    def r10(x):
        return math.floor(x * 1e10 + 0.5) / 1e10

    l = b = None
    for i, v in enumerate(series):
        if l is None:
            l, b = v, 0.0
        else:
            l_new = r10(0.3 * v + 0.7 * (l + b))
            b = r10(0.2 * (l_new - l) + 0.8 * b)
            l = l_new
        assert got[i] == (l, b), (i, got[i], (l, b))


@given(
    st.lists(
        st.floats(min_value=0.001, max_value=1e6,
                  allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=15, deadline=None)
def test_benford_digits_match_python(spark_session_holder, amounts):
    """The string-on-integer digit extraction must equal a Python
    reference over the same exact-cents scaling, for any positive
    amounts (including sub-cent values, which drop)."""
    from collections import Counter

    spark = spark_session_holder
    df = spark.createDataFrame([(float(a),) for a in amounts],
                               "amt double")
    from pac_data_pipeline_spark.operators.quality import benford_audit

    got = {r.digit: r.n for r in benford_audit(df, "amt").collect()}
    import math

    ref = Counter()
    for a in amounts:
        # identical round-half-up scaling to the operators' floor form
        cents = math.floor(a * 100 + 0.5)
        if cents > 0:
            ref[int(str(cents)[0])] += 1
    assert got == dict(ref)


@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=9),
                  st.integers(min_value=0, max_value=9)),
        min_size=0,
        max_size=30,
    )
)
@settings(max_examples=15, deadline=None)
def test_triangle_counts_match_bruteforce(spark_session_holder, raw_edges):
    """Degree-oriented counting must equal the itertools brute force
    (all 3-subsets with all three edges present) on arbitrary small
    directed multigraphs with self-loops and duplicates."""
    import itertools
    from collections import Counter

    spark = spark_session_holder
    nodes = spark.createDataFrame([(i,) for i in range(10)],
                                  "doc_id long")
    edges = spark.createDataFrame(
        [(a, b) for a, b in raw_edges] or [(0, 0)],
        "src long, dst long",
    )
    from pac_data_pipeline_spark.ext.graph import triangle_counts

    got = {r.doc_id: r.n_triangles for r in
           triangle_counts(nodes, edges).collect()}

    und = {frozenset(e) for e in (raw_edges or [(0, 0)])
           if e[0] != e[1]}
    ref = Counter()
    for a, b, c in itertools.combinations(range(10), 3):
        if (frozenset((a, b)) in und and frozenset((b, c)) in und
                and frozenset((a, c)) in und):
            ref[a] += 1
            ref[b] += 1
            ref[c] += 1
    assert got == dict(ref)


@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=9),
                  st.integers(min_value=0, max_value=9)),
        min_size=0,
        max_size=30,
    )
)
@settings(max_examples=15, deadline=None)
def test_khop_matches_python_bfs(spark_session_holder, raw_edges):
    """Bounded min-hop must equal a plain Python BFS from the same
    seed set (node 0 — the only id < 10 with id % 97 == 0) on
    arbitrary directed graphs."""
    from collections import deque

    spark = spark_session_holder
    nodes = spark.createDataFrame([(i,) for i in range(10)],
                                  "doc_id long")
    edges = spark.createDataFrame(
        [(a, b) for a, b in raw_edges] or [(0, 0)],
        "src long, dst long",
    )
    from pac_data_pipeline_spark.ext.graph import khop_distances

    got = {r.doc_id: r.hops for r in
           khop_distances(nodes, edges, n_hops=3).collect()}

    adj = {}
    for a, b in (raw_edges or [(0, 0)]):
        adj.setdefault(a, set()).add(b)
    dist = {0: 0}
    q = deque([0])
    while q:
        u = q.popleft()
        if dist[u] >= 3:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    assert got == dist


@given(
    st.lists(
        st.lists(
            st.floats(min_value=-1, max_value=1,
                      allow_nan=False, allow_infinity=False),
            min_size=2, max_size=2,
        ),
        min_size=3,
        max_size=16,
    ),
    st.integers(min_value=1, max_value=50000),
)
@settings(max_examples=10, deadline=None)
def test_semantic_dedup_matches_python_greedy(
    spark_session_holder, vecs, threshold
):
    """The within-cluster greedy-by-id marking must equal a plain
    Python replay (same quantization, same cluster assignments via
    the kmeans reference contract, same threshold) on arbitrary 2-D
    input."""
    import math

    import numpy as np

    spark = spark_session_holder
    k, n_iter = 2, 2
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    from pac_data_pipeline_spark.ext.kmeans import (
        kmeans_assign,
        semantic_dedup,
    )

    clusters = {r.vec_id: r.cluster for r in
                kmeans_assign(df, k=k, n_iter=n_iter).collect()}
    got = {r.vec_id: r.dup_of for r in
           semantic_dedup(df, k=k, n_iter=n_iter,
                          threshold=threshold).collect()}

    q = {
        i: [int(math.floor(float(np.float32(x)) * 1000 + 0.5))
            for x in v]
        for i, v in enumerate(vecs)
    }
    ref = {}
    for i in sorted(q):
        dup = None
        for j in sorted(q):
            if j >= i or clusters[j] != clusters[i]:
                continue
            d = sum((a - b) * (a - b) for a, b in zip(q[i], q[j]))
            if d <= threshold:
                dup = j
                break
        ref[i] = dup
    assert got == ref


@given(
    st.lists(
        st.tuples(st.integers(min_value=-50, max_value=50),
                  st.one_of(st.none(), st.text(max_size=5))),
        min_size=1,
        max_size=30,
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=20, deadline=None)
def test_table_checksum_is_permutation_invariant(
    spark_session_holder, rows, rng
):
    """Any permutation and any repartitioning of the same multiset
    of rows yields the identical (n_rows, checksum, null_cells);
    dropping one row never does."""
    spark = spark_session_holder
    from pac_data_pipeline_spark.operators.quality import table_checksum

    a = spark.createDataFrame(rows, "id long, v string")
    shuffled = list(rows)
    rng.shuffle(shuffled)
    b = spark.createDataFrame(shuffled, "id long, v string").repartition(5)
    ca = table_checksum(a, ("id", "v")).collect()[0]
    cb = table_checksum(b, ("id", "v")).collect()[0]
    assert (ca.n_rows, ca.checksum, ca.null_cells) == \
           (cb.n_rows, cb.checksum, cb.null_cells)
    c = spark.createDataFrame(rows[:-1], "id long, v string") \
        if len(rows) > 1 else None
    if c is not None:
        cc = table_checksum(c, ("id", "v")).collect()[0]
        assert (cc.n_rows, cc.checksum) != (ca.n_rows, ca.checksum)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=10**12), min_size=1, max_size=400),
    st.sampled_from([50, 90, 95, 99]),
)
def test_hdr_bucket_error_bound_theorem(cents, q):
    """The HDR sketch's documented guarantee, checked against the
    exact quantile for ARBITRARY positive integer multisets: the
    bucket-walk estimate is one-sided (est <= exact) and within
    relative error 2^-sig_bits. Pure-Python replica of the bucket
    function (operators/quantile.py) — the Spark==replica equality
    is pinned separately in test_operators."""
    B = 7

    def bucket(c: int) -> int:
        sh = max(c.bit_length() - 1 - B, 0)
        return (c >> sh) << sh

    counts: dict[int, int] = {}
    for c in cents:
        b = bucket(c)
        counts[b] = counts.get(b, 0) + 1
    n = len(cents)
    rank = (n * q + 99) // 100
    cum, est = 0, None
    for b in sorted(counts):
        cum += counts[b]
        if cum >= rank:
            est = b
            break
    exact = sorted(cents)[rank - 1]
    assert est is not None
    assert est <= exact
    assert (exact - est) / exact < 2**-B


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.sampled_from(["a", "b", "ab", "ba", "aab", "c"]),
        min_size=1,
        max_size=12,
    ),
    st.sampled_from([("a", "b"), ("a", "a"), ("ab", "a"), ("b", "ba")]),
)
def test_bpe_doubled_space_rewrite_matches_python_resub(toks, pair):
    """The BPE oracle's doubled-space rewrite (ext/text.bpe_train_sql)
    vs Python's lookaround-bounded re.sub, on ADVERSARIAL symbol
    sequences: multi-char symbols that are prefixes/suffixes of each
    other, back-to-back occurrences ("a a a a" must give "aa aa"),
    and overlapping self-pairs ("a a a" must give "aa a"). A naive
    single-space replace consumes the shared boundary space and
    breaks exactly these cases — this replays the SQL string
    pipeline in pure Python so hypothesis can sweep the corner
    cases the corpus never hits. The trainers' apply_merge must
    agree with both."""
    import re

    l, r = pair
    syms = " ".join(toks)
    pat = re.compile(
        r"(?<!\S)" + re.escape(l) + " " + re.escape(r) + r"(?!\S)"
    )
    want = pat.sub(l + r, syms)

    # the oracle's pipeline: double separators, bounded replace,
    # collapse, trim — plain str.replace IS DuckDB replace()
    # (non-overlapping, left-to-right, continue after replacement)
    d = " " + syms.replace(" ", "  ") + " "
    d = d.replace(f" {l}  {r} ", f" {l}{r} ")
    got = d.replace("  ", " ").strip(" ")
    assert got == want, (syms, pair, got, want)

    # and the trainers' own driver-side rewrite
    from pac_data_pipeline_spark.ext.text import apply_merge

    vocab = [[syms, 1]]
    apply_merge(vocab, l, r)
    assert vocab[0][0] == want, (syms, pair, vocab[0][0], want)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=10**12), min_size=1, max_size=400),
    st.sampled_from([50, 90, 95, 99]),
)
def test_centroid_sketch_dominates_hdr_lower_bound(cents, q):
    """The centroid family's cross-check guarantee against the HDR
    family, on pure-Python replicas of both bucket walks: for any
    positive integer multiset the centroid estimate lies in
    [hdr_est, hdr_est + bucket width), hence (a) centroid ≥ hdr
    always, (b) both within 2^-sig_bits relative error of the exact
    quantile, and (c) the (cnt, tot) sketch is exactly mergeable —
    summing two halves' sketches reproduces the whole-set sketch."""
    B = 7

    def bucket(c: int) -> int:
        sh = max(c.bit_length() - 1 - B, 0)
        return (c >> sh) << sh

    sk: dict[int, tuple[int, int]] = {}
    for c in cents:
        b = bucket(c)
        cnt, tot = sk.get(b, (0, 0))
        sk[b] = (cnt + 1, tot + c)
    n = len(cents)
    rank = (n * q + 99) // 100
    cum, hdr_est, cen_est, width = 0, None, None, None
    for b in sorted(sk):
        cnt, tot = sk[b]
        cum += cnt
        if cum >= rank:
            hdr_est, cen_est = b, (0 if b == 0 else tot // cnt)
            sh = max(b.bit_length() - 1 - B, 0)
            width = 1 << sh
            break
    exact = sorted(cents)[rank - 1]
    assert hdr_est is not None
    assert hdr_est <= cen_est < hdr_est + width
    assert cen_est <= max(cents)
    assert abs(exact - cen_est) / exact < 2**-B
    # merge-exactness: sketch(A) + sketch(B) == sketch(A ∪ B)
    half = len(cents) // 2
    merged: dict[int, tuple[int, int]] = {}
    for part in (cents[:half], cents[half:]):
        for c in part:
            b = bucket(c)
            cnt, tot = merged.get(b, (0, 0))
            merged[b] = (cnt + 1, tot + c)
    assert merged == sk


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text(alphabet="abcdef", min_size=1, max_size=4),
                min_size=1, max_size=300))
def test_cms_overestimate_and_row_mass_invariants(stream):
    """Count-Min structural invariants over ARBITRARY streams, on a
    pure-Python replica of the md5 column formula
    (operators/cms.py): every row's counters sum to exactly N (no
    item lost or double-counted per row), and the min-over-rows
    estimate never undercounts any item."""
    import hashlib

    D, W = 4, 64  # narrow width forces heavy collisions

    def col(i: int, tok: str) -> int:
        h = hashlib.md5(f"{i}:{tok}".encode()).hexdigest()[:8]
        return int(h, 16) % W

    cells: dict[tuple, int] = {}
    truth: dict[str, int] = {}
    for tok in stream:
        truth[tok] = truth.get(tok, 0) + 1
        for i in range(D):
            k = (i, col(i, tok))
            cells[k] = cells.get(k, 0) + 1
    n = len(stream)
    for i in range(D):
        assert sum(v for (r, _), v in cells.items() if r == i) == n
    for tok, true_cnt in truth.items():
        est = min(cells[(i, col(i, tok))] for i in range(D))
        assert est >= true_cnt


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40),
    st.integers(min_value=0, max_value=10**7),
)
def test_hamilton_apportionment_quota_rule(weights, budget):
    """Hamilton largest-remainder apportionment (the
    temperature_mixture allocator) must satisfy the QUOTA RULE for
    arbitrary weights: every allocation is floor(exact share) or
    ceil(exact share), and allocations sum to exactly the budget —
    the invariants an off-by-one in leftover distribution or tie
    handling would break."""
    from fractions import Fraction

    tw = sum(weights)
    if tw == 0:
        return  # no weight mass — the operator never reaches this
    names = [f"d{i}" for i in range(len(weights))]
    base = {d: budget * w // tw for d, w in zip(names, weights)}
    rem = {d: budget * w % tw for d, w in zip(names, weights)}
    leftover = budget - sum(base.values())
    order = sorted(names, key=lambda d: (-rem[d], d))
    alloc = {
        d: base[d] + (1 if i < leftover else 0)
        for i, d in enumerate(order)
    }
    assert sum(alloc.values()) == budget
    for d, w in zip(names, weights):
        share = Fraction(budget * w, tw)
        lo = share.numerator // share.denominator
        hi = lo if share == lo else lo + 1
        assert lo <= alloc[d] <= hi, (d, alloc[d], float(share))


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "de", "zh"]),
            st.lists(
                st.sampled_from("abcdefg"), min_size=0, max_size=12
            ).map(lambda ws: " ".join(ws)),
        ),
        min_size=0,
        max_size=25,
    )
)
def test_dsir_scores_match_python_mirror(spark_session_holder, rows):
    """The fixed-point DSIR contract (ext/dsir.py) against a
    trivially-correct Python mirror over arbitrary tiny corpora —
    bucket hashing, add-one smoothing, integer floor divisions, and
    the featureless-doc zero must all agree exactly, for any mix of
    languages, empty/short texts, and duplicate bigrams."""
    import hashlib
    import re
    from collections import Counter

    from pyspark.sql import functions as F

    from pac_data_pipeline_spark.ext.dsir import dsir_scores

    spark = spark_session_holder
    data = [(i, lang, txt) for i, (lang, txt) in enumerate(rows)]
    if not data:
        return
    df = spark.createDataFrame(
        data, "doc_id long, lang string, text string"
    )
    got = {
        r.doc_id: (r.n_feats, r.dsir_micro)
        for r in dsir_scores(
            df, F.col("lang") == "en", n_buckets=64,
            target_cols=("lang",),
        ).collect()
    }

    B = 64

    def bigrams(t):
        toks = re.split(r"[ \t\n\f\r]+", t.strip())
        if len(toks) < 2:
            return []
        return [f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1)]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B

    per = {i: Counter(bucket(g) for g in bigrams(t)) for i, _, t in data}
    raw, tgt = Counter(), Counter()
    for i, lang, _ in data:
        raw.update(per[i])
        if lang == "en":
            tgt.update(per[i])
    R, T = sum(raw.values()), sum(tgt.values())
    for i, _, _ in data:
        cnts = per[i]
        exp_n = sum(cnts.values())
        exp_s = sum(
            c * ((1_000_000 * (tgt[b] + 1) * (R + B))
                 // ((raw[b] + 1) * (T + B)))
            for b, c in cnts.items()
        )
        assert got[i] == (exp_n, exp_s), (i, got[i], (exp_n, exp_s))


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=3, max_size=10)
        .map(lambda ws: " ".join(ws)),
        min_size=1,
        max_size=15,
    ),
    st.integers(min_value=1, max_value=6),
)
def test_bloom_decontaminate_never_false_negative(
    spark_session_holder, texts, eval_mod
):
    """Bloom membership is a SUPERSET of exact membership for ANY
    corpus and eval split: every doc the exact 3-gram join flags,
    the bloom path must flag too (no false negatives — the bloom
    guarantee the operator's 100 TB story rests on)."""
    from pyspark.sql import functions as F

    from pac_data_pipeline_spark.ext.dedup_text import (
        bloom_decontaminate,
        decontaminate,
    )

    spark = spark_session_holder
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    eval_set = df.filter(F.col("doc_id") % eval_mod == 0)
    exact = {
        r.doc_id: r.contaminated
        for r in decontaminate(df, eval_set, n=3).collect()
    }
    bloom = {
        r.doc_id: r.contaminated
        for r in bloom_decontaminate(df, eval_set, n=3).collect()
    }
    for doc_id, flagged in exact.items():
        if flagged:
            assert bloom[doc_id], f"false negative on doc {doc_id}"
