"""Corpus-level cleaning operators for training-data pipelines.

Two families the LLM-data literature treats as table stakes beyond
document-level dedup:

- **Chunk-level exact dedup** (Lee et al., "Deduplicating Training
  Data Makes Language Models Better"): repeated *spans* are removed
  even when the containing documents differ. The scalable exact
  formulation is fixed-width token windows hashed corpus-wide; the
  classical suffix-array formulation finds arbitrary-length repeats
  but needs the whole array on one machine — the windowed one is
  embarrassingly parallel and shuffle-bounded. A middle tier lives
  in :func:`suffix_duplication`: a *k-bounded* distributed suffix
  sort (64-byte keys, prefix-bucketed neighbor windows) that
  recovers exact duplicated-substring lengths up to the cap with
  one shuffle — character-granular like the suffix array, scalable
  like the windowed hash.
- **Unicode normalization** (CCNet-style cleanup): NFC-normalize,
  strip control characters, collapse whitespace. Python's
  ``unicodedata`` (stdlib, no extra deps) inside an Arrow-batched
  ``mapInPandas`` — the canonical "Python only where the JVM has no
  equivalent" escape hatch.

Both stages are scan-shaped except the chunk window: chunk dedup
shuffles once on the chunk text (same budget as exact document
dedup, ~corpus size), unicode cleanup shuffles nothing.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pac_data_pipeline_spark.ext.text import TOKEN_SEP
from pac_data_pipeline_spark.session import ensure_parallelism


def chunk_dedup(
    df: DataFrame,
    chunk_tokens: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact span dedup over non-overlapping ``chunk_tokens``-token
    windows: a chunk survives iff it is the corpus-wide FIRST
    occurrence of that exact token window (order: id, then position).
    Returns one row per document with the reconstructed text and
    kept/dropped counts.

    Plan shape: scan → posexplode (narrow) → one shuffle partitioned
    by chunk text for the first-occurrence window → shuffle back on
    the id for reassembly. Both exchanges carry ~corpus volume —
    identical budget to document-level exact dedup, no all-pairs
    anywhere. At 100 TB swap the window for a groupBy(chunk_hash)
    min-position self-join if chunk-value skew (a hugely repeated
    boilerplate chunk) concentrates a partition; AQE skew-join
    handles the moderate case.
    """
    # stage tokenization ONCE per row (a Project below the Generate):
    # referencing the split through a materialized column keeps the
    # per-chunk lambda from re-tokenizing the whole document — the
    # difference between O(len) and O(len²/W) character work per doc.
    staged = df.select(
        id_col,
        F.split(F.trim(F.col(text_col)), TOKEN_SEP).alias("__toks"),
    )
    toks = F.col("__toks")
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int"), F.lit(1)
    )
    chunk_ids = F.sequence(F.lit(0), n_chunks - 1)
    chunk_of = lambda i: F.concat_ws(  # noqa: E731
        " ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens)
    )
    chunks = staged.select(
        id_col,
        F.posexplode(F.transform(chunk_ids, chunk_of)).alias(
            "chunk_id", "chunk_text"
        ),
    )
    w = Window.partitionBy("chunk_text").orderBy(id_col, "chunk_id")
    flagged = chunks.withColumn(
        "keep", F.row_number().over(w) == F.lit(1)
    )
    kept_structs = F.collect_list(
        F.when(F.col("keep"), F.struct("chunk_id", "chunk_text"))
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(kept_structs), lambda s: s["chunk_text"]
            ),
        ).alias("clean_text"),
    )


def boilerplate_chunks(
    df: DataFrame,
    chunk_tokens: int = 32,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Boilerplate detector: token windows that recur in at least
    ``min_docs`` DISTINCT documents, with their document frequency.
    The dual view of :func:`chunk_dedup` — what it drops, aggregated
    by content. One shuffle on the chunk text; the distinct-doc
    count is a partial-aggregated groupBy, never a window."""
    staged = df.select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), TOKEN_SEP).alias("__toks"),
    )
    toks = F.col("__toks")
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int"), F.lit(1)
    )
    chunk_of = lambda i: F.concat_ws(  # noqa: E731
        " ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens)
    )
    chunks = staged.select(
        F.col(id_col),
        F.explode(
            F.transform(F.sequence(F.lit(0), n_chunks - 1), chunk_of)
        ).alias("chunk_text"),
    )
    return (
        chunks.groupBy("chunk_text")
        .agg(F.countDistinct(id_col).cast("bigint").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


#: Control characters stripped by unicode_clean (C0 minus \t\n\r,
#: plus DEL). Kept as an explicit class so the oracle SQL can use
#: the byte-identical regex.
CONTROL_CLASS = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"

#: Whitespace collapsed by unicode_clean — an EXPLICIT enumeration of
#: what Python's Unicode ``\s`` matches after control-char removal
#: (ASCII ws + NEL + NBSP + Ogham + Zs block + LS/PS + NNBSP + MMSP +
#: ideographic space). Explicit because the oracle's RE2 ``\s`` is
#: ASCII-only: with a bare ``\s`` the two tiers silently disagree on
#: any document containing an NBSP or ideographic space.
UNICODE_WS_CLASS = (
    "[ \t\n\r\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"
)
#: The same class in RE2 syntax for the DuckDB differential oracle.
UNICODE_WS_CLASS_RE2 = (
    "[ \\t\\n\\r\\x{85}\\x{A0}\\x{1680}\\x{2000}-\\x{200A}"
    "\\x{2028}\\x{2029}\\x{202F}\\x{205F}\\x{3000}]"
)


def unicode_clean(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """NFC-normalize + strip control chars + collapse whitespace.

    NFC has no JVM-side Spark builtin, so this is the textbook
    Arrow-batched escape hatch: ``mapInPandas`` with stdlib
    ``unicodedata``, vectorized over whole record batches — zero
    shuffle, scan-stage only. Returns (id, clean_text, changed).
    """
    import unicodedata

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("clean_text", T.StringType()),
            T.StructField("changed", T.BooleanType()),
        ]
    )

    def clean_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import re

        ctrl = re.compile(CONTROL_CLASS)
        ws = re.compile(UNICODE_WS_CLASS + "+")

        def clean_one(s: str | None) -> str | None:
            if s is None:
                return None
            c = unicodedata.normalize("NFC", s)
            c = ctrl.sub("", c)
            # collapse turns every whitespace run into one ASCII
            # space, so stripping ' ' alone is exact
            return ws.sub(" ", c).strip(" ")

        for pdf in batches:
            cleaned = pdf[text_col].map(clean_one)
            # SQL null semantics: null text -> null verdict, never True
            changed = [
                None if orig is None else (c != orig)
                for orig, c in zip(pdf[text_col], cleaned)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "clean_text": cleaned,
                    "changed": pd.array(changed, dtype="boolean"),
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        clean_batches, schema=out_schema
    )


#: ASCII separator set of the TOKEN_SEP contract as an instr()
#: haystack — built from chr() so neither engine's SQL literal
#: parsing of raw control characters is in play.
_SEP_CHARS_SQL = "concat(' ', chr(9), chr(10), chr(12), chr(13))"


def suffix_duplication(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cap: int = 64,
    bucket: int = 8,
    threshold: int = 20,
) -> DataFrame:
    """Exact duplicated-substring lengths per document via a
    k-bounded DISTRIBUTED suffix sort — the character-granular
    middle tier between :func:`chunk_dedup`'s fixed windows and the
    single-machine suffix array of Lee et al. §4.

    Every token-aligned suffix enters the corpus-wide sorted order
    keyed by its first ``cap`` bytes. By the suffix-array adjacency
    property, the longest prefix a suffix shares with ANY other
    corpus suffix is achieved at a sorted neighbor, so one
    ``lag``/``lead`` window recovers exact duplicate lengths up to
    the cap. Sorting is bucketed by the first ``bucket`` bytes:
    suffixes sharing ≥``bucket`` characters sort contiguously inside
    one bucket, so the neighbor window distributes
    (``partitionBy(bucket_key)``) instead of collapsing to a single
    global sort — the price is that duplications shorter than
    ``bucket`` report as 0, which is exactly the regime where
    "duplication" is noise ("the ", "and "). Hot buckets (very
    common 8-grams) are the documented skew risk; lengthen
    ``bucket`` to split them.

    Per document: ``n_starts`` token-aligned suffixes,
    ``max_dup_len`` (longest substring, capped, shared with any
    other corpus position — same or different doc, as Lee et al.
    dedup self-repeats too; 0 when < ``bucket``), and
    ``n_dup_ge_t`` positions whose duplicate run reaches
    ``threshold``. All-integer output → exact cross-engine hash.

    Plan: one scan exploding char positions (filtered to token
    starts under the TOKEN_SEP contract), ONE shuffle on the bucket
    key for the sorted neighbor window, one doc-keyed aggregation;
    the left join back to the base table re-admits suffix-less
    (empty/null) documents with zeros.
    """
    sep = _SEP_CHARS_SQL
    # Per-row CHAR-ARRAY formulation, not substring-per-position:
    # UTF8String.substring is O(pos) (a byte scan to the codepoint
    # offset), so the old substring(text, p, ...) probes made one
    # 1 MB document cost O(|doc|^2) ~ 1e12 char steps — the --patho
    # fuzz clone's megadoc hung exactly there. split(text, '') pays
    # O(|doc|) once; element_at is O(1), slice is O(cap); and the
    # (pos, s, b) structs are built INSIDE the row before the
    # explode, so exploded rows carry 72-char keys instead of each
    # duplicating the whole document text.
    starts = (
        df.select(
            F.col(id_col),
            F.expr(f"split({text_col}, '')").alias("__ch"),
        )
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"transform("
                    f"filter(sequence(1, size(__ch)), p -> "
                    f"instr({sep}, element_at(__ch, p)) = 0 AND "
                    f"(p = 1 OR instr({sep},"
                    f" element_at(__ch, greatest(p - 1, 1))) > 0)), "
                    f"p -> struct("
                    f"p AS pos, "
                    f"array_join(slice(__ch, p, {cap}), '') AS s, "
                    f"array_join(slice(__ch, p, {bucket}), '') AS b))"
                )
            ).alias("__sfx"),
        )
        .select(
            id_col,
            F.col("__sfx.pos").alias("pos"),
            F.col("__sfx.s").alias("s"),
            F.col("__sfx.b").alias("b"),
        )
    )
    w = Window.partitionBy("b").orderBy("s", id_col, "pos")
    nb = starts.select(
        id_col,
        "pos",
        "s",
        F.lag("s").over(w).alias("prv"),
        F.lead("s").over(w).alias("nxt"),
    )

    def lcp(other: str) -> str:
        # common-prefix length: prefix equality is monotone, so the
        # count of i with equal i-prefixes IS the LCP; least() with
        # both lengths corrects the identical-strings case where
        # every i ≤ cap matches
        return (
            f"coalesce(least(size(filter(sequence(1, {cap}), i -> "
            f"substring(s, 1, i) = substring({other}, 1, i))), "
            f"length(s), length({other})), 0)"
        )

    scored = nb.select(
        id_col,
        F.expr(f"greatest({lcp('prv')}, {lcp('nxt')})").alias("l"),
    ).select(
        id_col,
        F.when(F.col("l") >= bucket, F.col("l"))
        .otherwise(F.lit(0))
        .alias("l"),
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_starts"),
        F.max("l").alias("max_dup_len"),
        F.sum((F.col("l") >= threshold).cast("bigint")).alias("n_dup_ge_t"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_starts", F.lit(0)).cast("bigint").alias("n_starts"),
            F.coalesce("max_dup_len", F.lit(0))
            .cast("int")
            .alias("max_dup_len"),
            F.coalesce("n_dup_ge_t", F.lit(0))
            .cast("bigint")
            .alias("n_dup_ge_t"),
        )
    )


#: polynomial window-hash constants shared by :func:`cdc_chunks`
#: and the DuckDB oracle: base 257 > any single UTF-8 byte spread,
#: modulus 2^31 − 1 keeps every intermediate (< 2^39 + 2^21) exact
#: in int64 on numpy, the JVM, and DuckDB alike; the 1/16 mask
#: gives ~16 + window/2 char mean chunks.
CDC_POLY_BASE = 257
CDC_POLY_MOD = 2147483647
CDC_MASK = 16


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
) -> DataFrame:
    """Content-defined chunking (the FastCDC/rsync idea): chunk
    boundaries are positions whose local content hash hits a target
    mask, so an insertion near a document's start shifts ONE chunk
    instead of re-aligning every fixed-width block — the property
    that makes chunk-level storage dedup survive edits.

    Boundary contract: a boundary sits before position p (1-based,
    p > 1, windows must fit) when the polynomial hash of the
    ``window`` code points starting at p,
    ``fold(c: acc·257 + c mod 2^31−1)``, satisfies ``h % 16 == 0``.
    Exact integer arithmetic that any engine reproduces bit-for-bit
    (the DuckDB oracle mirrors it with a list comprehension +
    list_reduce), evaluated as a numpy sliding-window batch inside
    ONE Arrow ``mapInPandas`` — measured 0.7 s at sf0.1 vs 7.4 s for
    per-position JVM md5 and 41 s for the same fold as interpreted
    HOF lambdas (per-element lambda dispatch, not arithmetic, is the
    cost). This is the documented exception to "stay JVM-side": the
    op is compute-bound per row with zero shuffle, exactly the
    Arrow-batch profile (same judgment as the multimodal codecs).
    UTF-32 decode gives the code-point array directly, matching
    Spark's/DuckDB's code-point-based substring semantics (probed:
    both return identical code points for BMP and astral chars).

    Short texts (< window + 1 chars) form a single chunk; NULL and
    empty texts produce no rows. One output row per (doc, chunk):
    ordinal, chunk text, md5 fingerprint. Downstream dedup
    (:func:`cdc_dup_profile`) adds the one fingerprint shuffle. The
    input fans out to cluster parallelism first — the one-row-group
    testdata quirk would otherwise run the whole corpus on a single
    task (first bench: 162 s single-task vs ~6 s fanned out at
    sf0.1); at production scale the scan already has ≥ cores splits
    and the fan-out is a no-op.
    """
    import numpy as np

    t = F.col(text_col)
    df = ensure_parallelism(df.filter(t.isNotNull() & (F.length(t) > 0)))
    id_field = df.schema[id_col]
    schema = T.StructType(
        [
            T.StructField(id_field.name, id_field.dataType),
            T.StructField("chunk_ord", T.IntegerType()),
            T.StructField("chunk", T.StringType()),
        ]
    )
    base, mod, mask = CDC_POLY_BASE, CDC_POLY_MOD, CDC_MASK

    def gen(batches):
        for pdf in batches:
            out_id, out_ord, out_chunk = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                # the frame is pre-filtered to non-empty text; the
                # guard keeps the worker total if callers compose
                # the generator over unfiltered frames
                if text is None or len(text) == 0:
                    continue
                codes = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                n = len(codes)
                if n >= window + 1:
                    # windows starting at 0-based 0..n-window; a
                    # boundary may sit at starts 1..n-window (never
                    # 0 — an empty first chunk)
                    win = np.lib.stride_tricks.sliding_window_view(
                        codes, window
                    )
                    h = np.zeros(len(win), dtype=np.int64)
                    for k in range(window):
                        h = (h * base + win[:, k]) % mod
                    bpos = np.nonzero(h[1:] % mask == 0)[0] + 1
                else:
                    bpos = np.array([], dtype=np.int64)
                starts = np.concatenate(([0], bpos))
                ends = np.concatenate((bpos, [n]))
                for j, (s, e) in enumerate(zip(starts, ends)):
                    out_id.append(did)
                    out_ord.append(j)
                    out_chunk.append(text[int(s) : int(e)])
            yield pd.DataFrame(
                {id_col: out_id, "chunk_ord": out_ord, "chunk": out_chunk}
            )

    return df.mapInPandas(gen, schema).select(
        id_col,
        "chunk_ord",
        "chunk",
        F.md5(F.col("chunk")).alias("chunk_hash"),
    )


def cdc_dup_profile(chunks: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Corpus-wide duplication profile over CDC chunks: per
    fingerprint, total occurrences, distinct docs, and chunk length
    — the table a storage dedup (or a Lee-et-al-style span scrubber)
    prioritizes by. One map-side-combinable shuffle on the
    fingerprint; hot fingerprints (boilerplate) spread over the hash
    key space, no skew hazard."""
    return chunks.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct(id_col).alias("n_docs"),
        F.max(F.length("chunk")).alias("chunk_len"),
    )
