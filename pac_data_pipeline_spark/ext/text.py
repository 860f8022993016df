"""Text analysis operators for LLM training-data pipelines.

All hot-path operators are pure column expressions (JVM-side,
whole-stage codegen) over the ``documents`` table: tokenization,
token statistics, quality scoring, stopword-based language ID, and
document fingerprinting. At 100 TB these run in the scan stage with
zero shuffles — every one is a per-row map.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pac_data_pipeline_spark.session import ensure_parallelism

#: Minimal per-language stopword seeds for the language-ID heuristic.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "das", "und", "zu"),
    "fr": ("le", "les", "des", "et", "une"),
    "es": ("el", "los", "de", "y", "una"),
}

#: English stopwords used by the quality score.
QUALITY_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "for")

#: Tokenization separator — an explicit ASCII class, deliberately NOT
#: ``\s``. ``\s`` means three different things across the engine's
#: tiers: Java regex adds VT (\x0B), DuckDB's RE2 does not, and
#: Python's ``re`` is fully Unicode-aware (NBSP, U+3000, U+2028 …).
#: Every tier — JVM ``split``, Arrow/Python workers, UDTFs, and the
#: DuckDB differential oracle — uses this same class, paired with
#: stripping only ASCII space (Spark ``trim``/DuckDB ``trim(col,' ')``
#: /Python ``.strip(' ')``), so tokenization is byte-identical on ANY
#: input, not just inputs that avoid the exotic whitespace.
TOKEN_SEP = r"[ \t\n\f\r]+"
#: The same pattern escaped for embedding in a Spark SQL string
#: literal (the SQL parser unescapes ``\\t`` back to ``\t``).
TOKEN_SEP_SQL = TOKEN_SEP.replace("\\", "\\\\")
#: Compiled Python-side twin of :data:`TOKEN_SEP` for Arrow/pandas
#: workers that tokenize in Python (``bpe_encode``). Python's bare
#: ``str.split()`` is Unicode-aware (NBSP, U+3000, U+2028 …) and
#: would disagree with the JVM/DuckDB tiers on exotic whitespace.
TOKEN_SEP_RE = re.compile(TOKEN_SEP)


#: ASCII-only case folding, the case twin of the TOKEN_SEP contract.
#: ``lower()`` is NOT portable across the engine's tiers: Spark/Java
#: lowercases the final sigma contextually (ΣΟΦΟΣ → σοφος) and maps
#: İ → i + combining dot, while DuckDB's utf8proc does neither — so
#: any oracle-checked case folding must fold [A-Z] only and leave
#: everything else untouched. Both engines run the same
#: ``translate(col, 'A..Z', 'a..z')``, byte-identical on any input.
_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"
#: SQL expression fragment (valid in Spark SQL and DuckDB alike).
ASCII_LOWER_SQL = "translate({col}, '" + _ASCII_UPPER + "', '" + _ASCII_LOWER + "')"


def ascii_lower(col: Column | str) -> Column:
    """ASCII-only lowercase (see :data:`ASCII_LOWER_SQL`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, _ASCII_UPPER, _ASCII_LOWER)


def py_tokens(text: str | None) -> list[str]:
    """Python-side tokenization under the exact :data:`TOKEN_SEP`
    contract: strip ASCII space only, split on the ASCII class,
    drop empty tokens — byte-identical to the JVM
    ``split(trim(col), TOKEN_SEP)`` + non-empty filter and to the
    DuckDB oracle's ``regexp_split_to_array(trim(col, ' '), …)``."""
    return [w for w in TOKEN_SEP_RE.split((text or "").strip(" ")) if w]


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization → array<string>. (A BPE-ish regex
    tokenizer is :func:`bpe_ish_tokens`.)"""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), TOKEN_SEP)


def bpe_ish_tokens(col: Column | str) -> Column:
    """Subword-ish tokenization: split on whitespace AND at
    letter/digit/punctuation boundaries, the cheap regex stand-in
    for a BPE pre-tokenizer."""
    c = F.col(col) if isinstance(col, str) else col
    # insert breaks between character-class transitions, then split.
    # The marker class spells out the ASCII whitespace set instead of
    # Java's \s so every "non-alnum, non-whitespace" decision matches
    # the TOKEN_SEP contract (Java \s adds VT; RE2/Python differ).
    marked = F.regexp_replace(
        F.regexp_replace(c, r"([a-zA-Z])([0-9])", r"$1 $2"),
        r"([a-zA-Z0-9])([^a-zA-Z0-9 \t\n\f\r])",
        r"$1 $2",
    )
    return F.split(F.trim(marked), TOKEN_SEP)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def stopword_ratio(
    col: Column | str, stopwords: tuple[str, ...] = QUALITY_STOPWORDS
) -> Column:
    """Fraction of tokens that are stopwords — a classic fluency
    signal (higher ≈ natural prose, near-zero ≈ tag soup)."""
    toks = tokens(col)
    sw = ", ".join(f"'{w}'" for w in stopwords)
    hits = F.expr(
        f"size(filter(split(trim({_name(col)}), '{TOKEN_SEP_SQL}'), t -> translate(t, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') IN ({sw})))"
    )
    return hits / F.nullif(F.size(toks), F.lit(0))


def _name(col: Column | str) -> str:
    if isinstance(col, str):
        return col
    raise ValueError("expression-based stopword_ratio needs a column name")


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token statistics: counts, distinct counts, mean
    token length, punctuation ratio."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_char = F.length(F.col(text_col))
    n_punct = n_char - F.length(
        F.regexp_replace(F.col(text_col), r"[^\w \t\n\f\r]", "")
    )
    return df.select(
        "doc_id",
        n_char.cast("bigint").alias("n_chars"),
        n_tok.cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_uniq_tokens"),
        F.round(
            (n_char - F.size(toks) + 1) / F.nullif(n_tok, F.lit(0)), 6
        ).alias("mean_token_len"),
        F.round(n_punct / F.nullif(n_char, F.lit(0)), 6).alias("punct_ratio"),
    )


def quality_parts(text_col: str = "text") -> tuple[Column, Column]:
    """(stopword_ratio, composite score) column expressions — shared
    by :func:`quality_score` and the training-corpus pipeline so
    the filter stage and the reporting stage can never drift."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_char = F.length(F.col(text_col))
    n_punct = n_char - F.length(
        F.regexp_replace(F.col(text_col), r"[^\w \t\n\f\r]", "")
    )
    sw = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    hits = F.expr(
        f"size(filter(split(trim({text_col}), '{TOKEN_SEP_SQL}'), t -> translate(t, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') IN ({sw})))"
    )
    sw_ratio = hits / F.nullif(n_tok, F.lit(0))
    punct_ratio = n_punct / F.nullif(n_char, F.lit(0))
    score = (
        F.lit(0.5) * sw_ratio
        + F.lit(0.3) * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - punct_ratio)
    )
    return sw_ratio, score


def quality_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Composite quality score in [0,1]:
    0.5·stopword_ratio + 0.3·min(n_tokens/100, 1) + 0.2·(1 − punct_ratio).

    Pure arithmetic (no exp/log) so any engine reproduces it
    bit-for-bit — the oracle runs the identical formula."""
    sw_ratio, score = quality_parts(text_col)
    return df.select(
        id_col,
        F.round(sw_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def lang_parts(text_col: str = "text") -> tuple[dict, Column]:
    """(per-language hit-count exprs, argmax guess expr) — shared by
    :func:`lang_id` and the training-corpus pipeline."""
    cols = {}
    for lang, words in LANG_STOPWORDS.items():
        sw = ", ".join(f"'{w}'" for w in words)
        cols[lang] = F.expr(
            f"size(filter(split(trim({text_col}), '{TOKEN_SEP_SQL}'), t -> translate(t, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') IN ({sw})))"
        )
    best = F.greatest(*cols.values())
    guess = F.when(best == 0, F.lit("und"))
    for lang in LANG_STOPWORDS:  # insertion order = tie order
        guess = guess.when(cols[lang] == best, F.lit(lang))
    return cols, guess.otherwise(F.lit("und"))


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language ID: count seed-stopword hits per
    language, argmax with a fixed tie order (en, de, fr, es, else
    'und'). An n-gram model would drop in the same shape; the point
    is the scan-stage, shuffle-free classification."""
    cols, guess = lang_parts(text_col)
    return df.select(
        "doc_id",
        "lang",
        *[c.cast("bigint").alias(f"hits_{lang}") for lang, c in cols.items()],
        guess.alias("lang_guess"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the casefolded, punctuation-
    stripped, whitespace-collapsed text — the key for exact near-
    normalization dedup. Case folding is :func:`ascii_lower` (engine
    ``lower()`` diverges between Java and utf8proc on final-sigma /
    dotted-İ, which would split fingerprints across engines); the
    [^a-z0-9]+ strip then removes every non-ASCII char identically
    on both, so the md5 is portable on ANY input."""
    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                ascii_lower(F.col(text_col)), r"[^a-z0-9]+", " "
            ),
            r"\s+",
            " ",
        )
    )
    return df.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-token training chunks with overlap
    — one output row per (doc, chunk), entirely in JVM expressions:
    token array once, `sequence` of chunk start offsets, posexplode,
    `slice` + `concat_ws` per chunk. Zero shuffles; output order is
    (doc_id, chunk_id) deterministic.

    The last chunk may be short (tail tokens); stride =
    chunk_tokens - overlap. A doc shorter than one chunk yields
    exactly one chunk."""
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be < chunk_tokens")
    toks = tokens(text_col)
    with_toks = df.select(F.col(id_col), toks.alias("__t")).withColumn(
        "__n", F.size("__t")
    )
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.expr(f"CAST(ceil((__n - {overlap}) / {stride}) AS INT) - 1"),
            F.lit(0),
        )
        * stride,
        F.lit(stride),
    )
    return with_toks.select(
        F.col(id_col),
        F.col("__n").cast("bigint").alias("n_tokens"),
        F.col("__t"),
        F.posexplode(starts).alias("chunk_id", "start"),
    ).select(
        id_col,
        "n_tokens",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.col("start").cast("bigint").alias("start_token"),
        F.concat_ws(
            " ", F.slice("__t", F.col("start").cast("int") + 1, chunk_tokens)
        ).alias("chunk_text"),
    )


def tf_idf_top_terms(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF:
    ``tf · (ln((N+1)/(df+1)) + 1)``.

    Plan shape: explode → (doc, token) counts [shuffle 1, the pair
    key spreads hot tokens like the skew-safe distinct pattern] →
    token document-frequency [shuffle 2, |vocab| rows] → broadcast
    the vocab stats back onto the per-doc counts → per-doc top-k
    window [reuses shuffle 1's partitioning]. The (doc, token)
    count frame localCheckpoints: the document-frequency aggregate
    AND the scoring join both consume it, and Catalyst inlines an
    unmaterialized subplan into each — the pre-r8 plan re-scanned
    and re-tokenized the corpus per consumer (the bm25/dedup-cluster
    lesson). The corpus size joins in as a broadcast 1-row
    aggregate. Scores are rounded before ranking so cross-engine
    log ULP noise can't flip the order (tiebreak: token)."""
    from pyspark.sql import Window

    toks = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    )
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint()  # 2 consumers: dfreq + the scoring join
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "token",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "token", "tf", "df", "tfidf",
                F.col("rnk").cast("bigint").alias("rnk"))
    )


#: PII regexes kept to the RE2-compatible subset so the same pattern
#: runs on Spark (Java regex) and any RE2-based SQL engine verbatim.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
)


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token: str = "[REDACTED]",
) -> DataFrame:
    """Training-data PII scrub: count and replace emails, phone
    numbers, and SSN-shaped ids. Pure scan-stage column expressions
    (regexp_extract_all / regexp_replace) — shuffle-free, runs at
    parquet-read speed. Counts are taken on the ORIGINAL text, then
    replacements apply in PII_PATTERNS order, so the semantics are
    engine-reproducible. Replacement is global per pattern (Java
    regexp_replace default)."""
    counts = [
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
        .cast("bigint")
        .alias(f"n_{name}")
        for name, pat in PII_PATTERNS
    ]
    clean = F.col(text_col)
    for _, pat in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, token)
    return df.select(F.col(id_col), clean.alias("clean_text"), *counts)


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in a
    deterministic order and split at ``max_tokens`` boundaries; a
    document's sequence id is its starting token offset // max_len.

    The running token-count window partitions by an md5 SHARD, not
    globally — a global orderBy window is a single-partition sort.
    Real pretraining pipelines pack within shards for exactly this
    reason; packing quality is unaffected (each shard is its own
    corpus stream) and every value is a pure function of (doc_id,
    text), reproducible on any engine."""
    from pyspark.sql import Window

    from pac_data_pipeline_spark.ext.sampling import hash_bucket

    n_tokens = F.size(F.split(F.trim(F.col(text_col)), TOKEN_SEP))
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.select(
            F.col(id_col),
            hash_bucket(id_col, n_shards).cast("bigint").alias("shard"),
            n_tokens.cast("bigint").alias("n_tokens"),
        )
        .withColumn("cum_end", F.sum("n_tokens").over(w))
        .select(
            id_col,
            "shard",
            "n_tokens",
            F.floor((F.col("cum_end") - F.col("n_tokens")) / max_tokens)
            .cast("bigint")
            .alias("seq_id"),
        )
    )


def repetition_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition (Gopher-style quality signal): the
    fraction of word 2-grams that are duplicates of an earlier
    2-gram in the same document. Entirely scan-side array
    expressions — tokenize, build 2-grams with transform/sequence,
    count distinct with array_distinct — no shuffle, no UDF."""
    toks = F.split(F.trim(F.col(text_col)), TOKEN_SEP)
    # zip_with(slice, slice) instead of transform(sequence(...)):
    # sequence(1, 0) would DESCEND for 1-token docs, while
    # slice(x, 1, 0) degrades safely to an empty array
    grams = F.expr(
        "zip_with("
        "slice(__toks, 1, greatest(size(__toks) - 1, 0)), "
        "slice(__toks, 2, greatest(size(__toks) - 1, 0)), "
        "(a, b) -> concat(a, ' ', b))"
    )
    return (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(
            id_col,
            F.size("__toks").cast("bigint").alias("n_tokens"),
            grams.alias("__grams"),
        )
        .select(
            id_col,
            "n_tokens",
            F.size("__grams").cast("bigint").alias("n_2grams"),
            F.when(
                F.size("__grams") > 0,
                F.round(
                    1.0
                    - F.size(F.array_distinct("__grams"))
                    / F.size("__grams"),
                    6,
                ),
            ).alias("rep_2gram_ratio"),
        )
    )


def token_logfreq_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unigram log-likelihood quality score — the cheap stand-in for
    LM-perplexity filtering: mean ln(corpus relative frequency) of
    the document's tokens. Gibberish and boilerplate-free text score
    low; common-word prose scores high.

    Plan: one (doc, token) explode feeds BOTH the corpus frequency
    table (pair-keyed aggregate, hot tokens spread) and the per-doc
    average; the vocab-sized frequency table localCheckpoints (its
    two consumers — the 1-row total and the scoring join — would
    otherwise each re-tokenize the corpus; the bm25/dedup-cluster
    lesson) and broadcasts with the total back onto the exploded
    stream, so the corpus side shuffles once on doc_id only. Scores
    round to 6 before hashing so summation order can't flip the
    value."""
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.trim(F.col(text_col)), TOKEN_SEP)).alias("token")
    )
    freq = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint()  # vocab-sized; 2 consumers below
    total = freq.agg(F.sum("n").alias("total"))
    return (
        toks.join(F.broadcast(freq), "token")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("n") / F.col("total"))), 6).alias(
                "logfreq_score"
            ),
        )
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Character-level Shannon entropy per document (nats) — the
    classic gibberish/minified-content filter: natural prose lands
    ~2.8-3.2, base64 blobs and key-mash land >4, 'aaaa…' lands ~0.

    Shuffle-free scan-stage computation: sort the codepoints, find
    run boundaries with an index-lambda `filter`, derive run counts,
    and fold Σ c·ln c — entropy = ln(N) − Σc·ln(c)/N. The naive
    explode-to-(doc,char)-rows formulation multiplies 100 TB of text
    into ~100× that many shuffle rows; this stays a per-row map with
    O(len·log len) local cost. Rounded to 6 so both engines' float
    fold orders agree.
    """
    # STAGED intermediates, one withColumn each: a lambda body
    # re-evaluates any non-attribute subtree per element (HOFs run
    # interpreted, outside codegen's subexpression elimination), so
    # inlining the sorted array into element_at() would cost
    # O(n² log n) per row — measured as a 20+ minute single task at
    # sf0.1. CollapseProject keeps multi-referenced non-cheap
    # columns materialized, making each stage once-per-row.
    out = (
        ensure_parallelism(df)
        .withColumn("__cs", F.expr(f"array_sort(split({text_col}, ''))"))
        .withColumn(
            "__starts",
            F.expr(
                "filter(sequence(1, size(__cs)), i -> i = 1 OR "
                "element_at(__cs, i) <> element_at(__cs, i - 1))"
            ),
        )
        .withColumn(
            "__counts",
            F.expr(
                f"""zip_with(
                    __starts,
                    slice(__starts, 2, size(__starts)),
                    (s, nxt) -> coalesce(nxt, length({text_col}) + 1) - s
                )"""
            ),
        )
        .withColumn(
            "char_entropy",
            F.expr(
                f"""CASE WHEN length({text_col}) = 0 THEN NULL ELSE
                  round(
                    ln(length({text_col})) -
                    aggregate(
                      __counts,
                      cast(0.0 AS double),
                      (acc, c) -> acc + c * ln(c)
                    ) / length({text_col}),
                  6)
                END"""
            ),
        )
    )
    return out.select(F.col(id_col), "char_entropy")


#: Gopher rule thresholds (Rae et al. 2021, Table A1 subset) —
#: module-level so the filter and any report stage share one source
#: of truth. (min_words lowered from the paper's 50 to 20: the
#: reference-scale synthetic docs are short.)
GOPHER_RULES = {
    "min_words": 20,
    "max_words": 100_000,
    "min_mean_word_len": 2.0,
    "max_mean_word_len": 10.0,
    "min_alpha_word_frac": 0.8,
    "min_stopword_hits": 2,
}


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rules: dict | None = None,
) -> DataFrame:
    """Gopher-style document quality gates: word-count bounds, mean
    word length bounds, fraction of words containing a letter, and a
    minimum stopword hit count. Emits every metric plus per-rule
    flags and the conjunction — keeping the metrics in the output is
    what makes threshold tuning a reporting query instead of a
    rerun.

    Scan-stage only (higher-order functions over the token array,
    whole-stage codegen, zero shuffle) — the 100 TB cost is exactly
    one pass over the text bytes."""
    r = {**GOPHER_RULES, **(rules or {})}
    toks = tokens(text_col)
    n_words = F.size(toks)
    sum_len = F.aggregate(
        toks, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    mean_len = sum_len / F.nullif(n_words, F.lit(0))
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = alpha_words / F.nullif(n_words, F.lit(0))
    sw = F.array(*[F.lit(w) for w in QUALITY_STOPWORDS])
    sw_hits = F.size(
        F.filter(toks, lambda w: F.array_contains(sw, ascii_lower(w)))
    )
    ok_words = (n_words >= r["min_words"]) & (n_words <= r["max_words"])
    ok_len = (mean_len >= r["min_mean_word_len"]) & (
        mean_len <= r["max_mean_word_len"]
    )
    ok_alpha = alpha_frac >= r["min_alpha_word_frac"]
    ok_sw = sw_hits >= r["min_stopword_hits"]
    return df.select(
        id_col,
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        sw_hits.cast("bigint").alias("stopword_hits"),
        ok_words.alias("ok_word_count"),
        ok_len.alias("ok_word_len"),
        ok_alpha.alias("ok_alpha"),
        ok_sw.alias("ok_stopwords"),
        (ok_words & ok_len & ok_alpha & ok_sw).alias("keep"),
    )


#: C4 filter contract constants (Raffel et al. 2020, "Exploring the
#: Limits of Transfer Learning…", §2.2 — the cleaning rules behind
#: the public C4 corpus), shared verbatim by the Spark operator and
#: the DuckDB oracle so the two sides cannot drift.
C4_TERMINAL_PUNCT = (".", "!", "?", '"')
C4_MIN_LINE_WORDS = 3
C4_MIN_KEPT_LINES = 3
#: line-level drop marker (C4 drops any line with the word
#: "javascript"); matched case-insensitively under the ascii_lower
#: contract.
C4_LINE_BAD = "javascript"
#: page-level drop markers: boilerplate placeholder text (folded)
#: and source-code braces (literal).
C4_PAGE_BAD_FOLDED = "lorem ipsum"
C4_PAGE_BAD_LITERAL = "{"


def c4_page_filters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = C4_MIN_LINE_WORDS,
    min_kept_lines: int = C4_MIN_KEPT_LINES,
) -> DataFrame:
    """The C4 cleaning pipeline's line- and page-level filters
    (Raffel et al. 2020 §2.2) as one scan-stage projection:

    * a LINE survives iff it ends in terminal punctuation
      (``. ! ? "``), has ≥ ``min_line_words`` words, and does not
      mention ``javascript`` (case-folded);
    * a PAGE survives iff ≥ ``min_kept_lines`` lines survived and
      the raw text contains neither ``lorem ipsum`` (case-folded)
      nor ``{``.

    Emits (id, n_lines, n_kept, keep, clean_text) where clean_text
    is the surviving lines rejoined — metrics stay in the output so
    threshold tuning is a reporting query, not a rerun (the
    gopher_rules convention). Lines split on LF exactly; words and
    case folding follow the TOKEN_SEP / ascii_lower portable
    contracts, and line trimming strips ASCII space only (both
    engines' default ``trim``). All higher-order functions over the
    staged line array: whole-stage codegen, zero shuffles — at
    100 TB this is one pass over the text bytes, exactly like
    :func:`gopher_rules`."""
    # NULL-free staging: a NULL page becomes the empty page (0
    # lines, dropped) instead of threading NULL through every HOF
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.when(text == "", F.array().cast("array<string>")).otherwise(
        F.split(text, "\n")
    )

    def line_ok(line: Column) -> Column:
        t = F.trim(line)
        last = t.substr(F.length(t), F.lit(1))
        words = F.size(F.split(t, TOKEN_SEP))
        return (
            (F.length(t) >= 1)
            & last.isin(*C4_TERMINAL_PUNCT)
            & (words >= min_line_words)
            & ~ascii_lower(line).contains(C4_LINE_BAD)
        )

    df = df.withColumn("__lines", lines)
    kept = F.filter(F.col("__lines"), line_ok)
    n_kept = F.size(kept)
    page_ok = (
        (n_kept >= min_kept_lines)
        & ~ascii_lower(text).contains(C4_PAGE_BAD_FOLDED)
        & ~text.contains(C4_PAGE_BAD_LITERAL)
    )
    return df.select(
        id_col,
        F.size("__lines").cast("bigint").alias("n_lines"),
        n_kept.cast("bigint").alias("n_kept"),
        page_ok.alias("keep"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def zipf_fit(
    df: DataFrame,
    top_n: int = 1000,
    text_col: str = "text",
) -> DataFrame:
    """Zipf rank-frequency fit over the head of the vocabulary —
    the one-row corpus health check (a natural corpus follows
    ln f ≈ c − s·ln r with s ≈ 1; template/boilerplate floods and
    synthetic data bend the head) plus head-coverage mass, the
    number that sizes stopword lists and tokenizer vocabularies.

    Emits ONE row: (n_terms, head_tokens, corpus_tokens, n_vocab,
    head_coverage_ppm, slope, intercept, r2) — the regression is
    ln(freq) on ln(rank) over the ``top_n`` most frequent terms
    (ranked freq-desc with token tiebreak; fitting the head is
    standard practice — the tail bends by Heaps' law), coverage is
    an exact ppm floor division, and the regression moments round
    to 4 before emission (cross-engine summation order).

    Scale shape: ONE corpus scan into the (token, freq) aggregate;
    that vocab frame localCheckpoints because THREE consumers read
    it (the top-n head, the corpus totals, nothing re-reads the
    corpus — the totals are Σf over vocab, not a second scan). The
    head is orderBy+limit → TakeOrderedAndProject (per-partition
    heaps, never a global sort); the rank window spans the ≤top_n
    head rows only (whitelisted bounded-window pattern, like
    x_rrf_fusion's leg ranks)."""
    from pyspark.sql import Window

    tok = df.filter(F.col(text_col).isNotNull()).select(
        F.explode(tokens(ascii_lower(F.col(text_col)))).alias("t")
    ).filter(F.col("t") != "")
    vocab = tok.groupBy("t").agg(
        F.count(F.lit(1)).alias("f")
    ).localCheckpoint()
    totals = vocab.agg(
        F.coalesce(F.sum("f"), F.lit(0)).cast("bigint").alias(
            "corpus_tokens"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
    )
    head = (
        vocab.orderBy(F.desc("f"), F.asc("t"))
        .limit(top_n)
        .withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.desc("f"), F.asc("t"))
            ),
        )
    )
    lnf, lnr = F.log("f"), F.log("r")
    fit = head.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.coalesce(F.sum("f"), F.lit(0)).cast("bigint").alias(
            "head_tokens"
        ),
        F.round(F.regr_slope(lnf, lnr), 4).alias("slope"),
        F.round(F.regr_intercept(lnf, lnr), 4).alias("intercept"),
        F.round(F.regr_r2(lnf, lnr), 4).alias("r2"),
    )
    return fit.crossJoin(F.broadcast(totals)).select(
        "n_terms",
        "head_tokens",
        "corpus_tokens",
        "n_vocab",
        F.expr(
            "CASE WHEN corpus_tokens > 0 THEN"
            " (1000000 * head_tokens) div corpus_tokens END"
        ).alias("head_coverage_ppm"),
        "slope",
        "intercept",
        "r2",
    )


def corpus_report(
    df: DataFrame, source_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-source corpus report card: volume, mean quality, mean
    length, English share — the go/no-go summary a data-curation
    run prints per crawl/source before mixing.

    The quality/language signals are the same scan-stage column
    expressions the filters use (`quality_parts` / `lang_parts`),
    so the report describes exactly what the pipeline would keep;
    one |sources|-row hash aggregation after a pure map stage.
    """
    _, score = quality_parts(text_col)
    _, guess = lang_parts(text_col)
    return (
        df.select(
            F.col(source_col),
            F.length(F.col(text_col)).alias("__len"),
            score.alias("__q"),
            (guess == "en").cast("double").alias("__en"),
        )
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("__q"), 4).alias("mean_quality"),
            F.round(F.avg("__len"), 2).alias("mean_chars"),
            F.round(F.avg("__en"), 4).alias("en_share"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    k: int = 20,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information:
    PMI = ln(N_bi · c_xy / (c_x · c_y)) over adjacent token pairs —
    the classic phrase-mining signal ("new york" scores high, "of
    the" scores low despite its count).

    Plan shape: the token array stages once per row, bigrams come
    from zip_with(toks, slice(toks, 2, ...)) — attribute-only
    lambdas, no per-element re-tokenization. One hash agg for bigram
    counts [pair key spreads hot heads], one for unigrams [|vocab|
    rows], two broadcast-sized joins of count frames, then a global
    top-k that compiles to TakeOrderedAndProject (never a full
    sort). ``min_count`` prunes the noise floor BEFORE the joins —
    PMI is unstable on rare pairs and the filter shrinks the join
    probe to the frequent tail. Scores round before ranking so
    cross-engine ln ULP noise cannot flip the order; ties break on
    the bigram text.
    """
    toked = ensure_parallelism(df).withColumn(
        "__toks", F.expr(f"split(trim({text_col}), '{TOKEN_SEP_SQL}')")
    )
    bigrams = toked.select(
        F.explode_outer(
            F.expr(
                "zip_with(__toks, slice(__toks, 2, size(__toks)),"
                " (a, b) -> CASE WHEN b IS NOT NULL"
                " THEN struct(a AS w1, b AS w2) END)"
            )
        ).alias("bg")
    ).filter(F.col("bg").isNotNull())
    # one bigram aggregation serves BOTH the min_count-filtered
    # count table and the corpus total (Σ c_xy ≡ the instance
    # count): the pre-r8 plan derived n_total from the raw bigram
    # stream, a second full scan+re-tokenization of the corpus —
    # localCheckpoint because the |vocab-pairs|-row frame has two
    # consumers (the bm25/dedup-cluster multi-consumer lesson)
    bi_all = (
        bigrams.select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .localCheckpoint()
    )
    bi_counts = bi_all.filter(F.col("c_xy") >= min_count)
    uni_counts = (
        toked.select(F.explode_outer("__toks").alias("w"))
        .filter(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_bi = bi_all.agg(F.sum("c_xy").alias("n_total"))
    scored = (
        bi_counts.join(
            uni_counts.select(
                F.col("w").alias("w1"), F.col("c").alias("c_x")
            ),
            "w1",
        )
        .join(
            uni_counts.select(
                F.col("w").alias("w2"), F.col("c").alias("c_y")
            ),
            "w2",
        )
        .crossJoin(F.broadcast(n_bi))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "c_xy",
            F.round(
                F.log(
                    F.col("n_total")
                    * F.col("c_xy")
                    / (F.col("c_x") * F.col("c_y"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("bigram").asc()
    ).limit(k)


#: Java regex's ``\S``, spelled out for Python's ``re``. Java's
#: ``\s`` is the ASCII set [ \t\n\x0B\f\r], Python's is Unicode-
#: aware, and :data:`TOKEN_SEP` does not split on \x0B — so a
#: symbol may hold a VT, and the merge rewrite must see it as
#: whitespace exactly as the JVM ``regexp_replace`` did.
_JAVA_NON_SPACE = r"[^ \t\n\x0b\f\r]"


def merge_vocab(df: DataFrame, text_col: str = "text") -> list[list]:
    """The merge trainers' ONE Spark action: the corpus's
    (word, frequency) vocabulary as ``[syms, freq]`` lists, symbols
    space-separated ("h e l l o"). Tokenization and the character
    split stay in the JVM (``split(w, "(?!$)")``), so the symbols
    are the ones every oracle reproduces; the merge rounds then run
    on the driver over this list (|unique words| entries, not
    corpus-sized)."""
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return [
        [r[0], r[1]]
        for r in words.select(
            F.concat_ws(" ", F.split(F.col("w"), "(?!$)")), "freq"
        ).collect()
    ]


def pair_counts(vocab: list[list]) -> dict[tuple[str, str], int]:
    """Adjacent symbol pairs of :func:`merge_vocab` weighted by word
    frequency."""
    counts: dict[tuple[str, str], int] = {}
    for syms, freq in vocab:
        s = syms.split(" ")
        for p in zip(s, s[1:]):
            counts[p] = counts.get(p, 0) + freq
    return counts


def apply_merge(vocab: list[list], left: str, right: str) -> None:
    """One merge round's symbol-string rewrite, in place: leftmost
    non-overlapping replacement of the token-bounded ``"left right"``
    bigram with ``leftright`` — byte-identical to Spark's
    ``regexp_replace(syms, "(?<!\\S)l r(?!\\S)", "lr")`` (Java's
    ASCII ``\\S``), which the oracles' doubled-space rewrite
    reproduces."""
    pat = re.compile(
        f"(?<!{_JAVA_NON_SPACE}){re.escape(left)} "
        f"{re.escape(right)}(?!{_JAVA_NON_SPACE})"
    )
    needle = f"{left} {right}"
    rep = (left + right).replace("\\", "\\\\")
    for entry in vocab:
        if needle in entry[0]:
            entry[0] = pat.sub(rep, entry[0])


def bpe_train(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Byte-pair-encoding tokenizer training: learn the top
    ``n_merges`` symbol merges over the corpus vocabulary.

    Classic word-level BPE: the vocabulary is (word, frequency) —
    ONE aggregation over the corpus and ONE collect
    (:func:`merge_vocab`), whatever ``n_merges`` is. Each round then
    runs on the driver: (1) count adjacent symbol pairs weighted by
    word frequency; (2) take the argmax pair; (3) rewrite the symbol
    sequences (:func:`apply_merge`). The rounds are sequential and
    the vocab is |unique words| rows, so a distributed round would
    be about three Spark jobs (pair aggregate, 1-row argmax collect,
    vocab checkpoint) of fixed driver latency doing almost no work.
    The driver holds |unique words| entries, the same bound
    single-machine BPE trainers live with.

    Returns the merge table (rank, left, right, pair_count) —
    deterministic given the corpus: ties on count break
    lexicographically. ``n_merges=0`` returns no rows."""
    vocab = merge_vocab(df, text_col)
    merges = []
    for rank in range(n_merges):
        counts = pair_counts(vocab)
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append((rank, left, right, cnt))
        apply_merge(vocab, left, right)

    from pac_data_pipeline_spark.session import local_table

    return local_table(
        df.sparkSession,
        merges,
        "rank int, left string, right string, pair_count long",
    )


#: Upper bound on the per-partition word→symbol-count memo in
#: :func:`bpe_encode`; the memo clears and rebuilds past this point.
_MEMO_CAP = 1_000_000


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained BPE merge table (:func:`bpe_train` output) to
    the corpus — the other half of the tokenizer lifecycle: train
    once, encode everywhere.

    Per word: start from characters, repeatedly merge the LEFTMOST
    occurrence of the lowest-rank applicable pair — the standard
    greedy BPE encode, byte-for-byte the order the trainer learned.
    The merge table is tiny (n_merges rows) and rides to executors
    as a broadcast dict; encoding runs over Arrow batches with a
    per-PARTITION word memo (capped — cleared if it outgrows
    ``_MEMO_CAP`` distinct words, so a pathological-vocabulary
    partition cannot grow it unboundedly), so each distinct word is
    encoded once no matter how often it repeats. The corpus never
    shuffles — this is a scan-stage map, and at 100 TB the only
    coordination is the one-time broadcast.

    Output: (id_col, n_tokens_ws, n_tokens_bpe) — whitespace token
    count vs post-merge BPE symbol count per document.
    """
    from collections.abc import Iterator

    import pandas as pd

    rules = {
        (r["left"], r["right"]): r["rank"]
        for r in merges.select("rank", "left", "right").collect()
    }
    bc = df.sparkSession.sparkContext.broadcast(rules)

    def n_syms(word: str, ranks: dict) -> int:
        syms = list(word)
        while len(syms) > 1:
            best_rank = None
            best_i = -1
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        return len(syms)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ranks = bc.value
        memo: dict[str, int] = {}
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                # same ASCII TOKEN_SEP contract as bpe_train's JVM
                # tokenizer — Python's Unicode-aware .split() would
                # disagree on NBSP/U+3000/U+2028/edge-tab inputs.
                words = py_tokens(text)
                total = 0
                for w in words:
                    n = memo.get(w)
                    if n is None:
                        if len(memo) >= _MEMO_CAP:
                            memo.clear()
                        n = n_syms(w, ranks)
                        memo[w] = n
                    total += n
                out.append(
                    {
                        id_col: doc_id,
                        "n_tokens_ws": len(words),
                        "n_tokens_bpe": total,
                    }
                )
            yield pd.DataFrame(
                out, columns=[id_col, "n_tokens_ws", "n_tokens_bpe"]
            )

    # derive the id field's type from the input schema — hardcoding
    # ``long`` would miscast (or fail on) string/int ids at runtime
    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        encode,
        schema=f"{id_col} {id_type}, n_tokens_ws long, n_tokens_bpe long",
    )


def _bpe_train_ctes(n_merges: int, table: str, text_col: str) -> list[str]:
    """Unrolled BPE-training CTE chain for the DuckDB mirror: one
    vocab aggregation, then per round (pair counts over the vocab →
    top-1 by (count DESC, left, right) — :func:`bpe_train`'s exact
    tie-break → merge rewrite). Every CTE is AS MATERIALIZED (the
    round-6 inlined-CTE lesson; t{{k}} feeds both the next rewrite
    and the final union).

    The rewrite is the DOUBLED-SPACE trick: Python's
    ``(?<!\\S)l r(?!\\S)`` lookarounds don't exist in RE2-land and a
    plain ``replace(' l r ', …)`` consumes the shared boundary space
    so back-to-back occurrences stop matching ("a a a a" must merge
    to "aa aa", not "aa a a"). Doubling every separator gives each
    token its own boundary space — non-overlapping left-to-right
    replacement then matches Python's ``re.sub`` exactly, and at
    most two spaces ever abut, so one ``replace('  ', ' ')`` pass
    restores the form."""
    cte = [
        f"""w0 AS MATERIALIZED (
            SELECT array_to_string([substring(w, i, 1)
                       FOR i IN range(1, len(w) + 1)], ' ') AS syms,
                   freq
            FROM (
                SELECT w, count(*) AS freq FROM (
                    SELECT unnest(list_filter(string_split_regex(
                        trim({text_col}, ' '),
                        '[ \\t\\n\\f\\r]+'), x -> x <> '')) AS w
                    FROM {table} WHERE {text_col} IS NOT NULL
                ) GROUP BY w)
        )"""
    ]
    for k in range(n_merges):
        cte.append(
            f"""p{k} AS MATERIALIZED (
            SELECT u[1] AS l, u[2] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM (SELECT unnest(list_zip(string_split(syms, ' '),
                   string_split(syms, ' ')[2:])) AS u, freq FROM w{k})
            WHERE u[2] IS NOT NULL GROUP BY 1, 2
        )"""
        )
        cte.append(
            f"""t{k} AS MATERIALIZED (
            SELECT {k} AS rank, l, r, cnt FROM p{k}
            ORDER BY cnt DESC, l, r LIMIT 1
        )"""
        )
        if k < n_merges - 1:
            cte.append(
                f"""w{k + 1} AS MATERIALIZED (
                SELECT trim(replace(replace(
                         ' ' || replace(syms, ' ', '  ') || ' ',
                         ' ' || (SELECT l FROM t{k}) || '  '
                             || (SELECT r FROM t{k}) || ' ',
                         ' ' || (SELECT l FROM t{k})
                             || (SELECT r FROM t{k}) || ' '),
                       '  ', ' '), ' ') AS syms, freq FROM w{k}
            )"""
            )
    return cte


def bpe_train_sql(
    n_merges: int = 8,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """:func:`bpe_train` as one DuckDB statement — the iterative
    merge loop unrolled, hash-exact against the Spark trainer."""
    cte = _bpe_train_ctes(n_merges, table, text_col)
    sel = " UNION ALL ".join(
        f"SELECT rank, l AS left, r AS right, cnt AS pair_count FROM t{k}"
        for k in range(n_merges)
    )
    return "WITH " + ",\n".join(cte) + "\nSELECT * FROM (" + sel + ")"


def bpe_encode_sql(
    n_merges: int = 8,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    greedy_steps: int = 16,
) -> str:
    """:func:`bpe_encode` (train + greedy encode) as one DuckDB
    statement. The greedy loop — merge the LEFTMOST occurrence of
    the LOWEST-RANK applicable pair, repeat — is unrolled to
    ``greedy_steps`` single-replacement steps over the DISTINCT
    word set, each step a rank-ordered CASE over the 1-row merge
    table (first rank whose doubled-space pattern occurs wins;
    strpos gives the leftmost occurrence; substr surgery replaces
    exactly one). A word of L characters merges at most L−1 times,
    so ``greedy_steps`` ≥ max word length − 1 makes the fixpoint
    exact (the corpus tops out at 8-character words; 16 is
    headroom, and converged steps are identity). Per-doc rollup
    joins occurrences to the encoded word set — the SQL analogue of
    the Spark side's per-partition word memo."""
    cte = _bpe_train_ctes(n_merges, table, text_col)
    mm_cols = ", ".join(
        f"(SELECT l FROM t{k}) AS l{k}, (SELECT r FROM t{k}) AS r{k}"
        for k in range(n_merges)
    )
    cte.append(f"mm AS MATERIALIZED (SELECT {mm_cols})")
    cte.append(
        f"""occ AS MATERIALIZED (
        SELECT {id_col} AS doc_id, unnest(list_filter(string_split_regex(
            trim(coalesce({text_col}, ''), ' '),
            '[ \\t\\n\\f\\r]+'), x -> x <> '')) AS w
        FROM {table}
    )"""
    )
    cte.append(
        """e0 AS MATERIALIZED (
        SELECT w, array_to_string([substring(w, i, 1)
                   FOR i IN range(1, len(w) + 1)], ' ') AS d
        FROM (SELECT DISTINCT w FROM occ)
    )"""
    )

    def pat(k: int) -> str:
        return f"' ' || mm.l{k} || '  ' || mm.r{k} || ' '"

    def rep(k: int) -> str:
        return f"' ' || mm.l{k} || mm.r{k} || ' '"

    for s in range(greedy_steps):
        branches = " ".join(
            f"WHEN strpos(dd, {pat(k)}) > 0 THEN trim(replace("
            f"substr(dd, 1, strpos(dd, {pat(k)}) - 1) || {rep(k)} || "
            f"substr(dd, strpos(dd, {pat(k)}) + len({pat(k)})), "
            f"'  ', ' '), ' ')"
            for k in range(n_merges)
        )
        cte.append(
            f"""e{s + 1} AS MATERIALIZED (
            SELECT w, CASE {branches} ELSE d END AS d
            FROM (SELECT w, d, ' ' || replace(d, ' ', '  ') || ' ' AS dd
                  FROM e{s}) CROSS JOIN mm
        )"""
        )
    # fixpoint tripwire: a word of more than greedy_steps+1 chars
    # could merge more times than the unrolled steps cover, and the
    # oracle would silently under-merge it — turning a CORRECT Spark
    # result into an opaque hash mismatch. Fail loudly with the
    # cause named instead (today's corpora top out at 8-char words;
    # this guards a future testdata regeneration with long tokens).
    cte.append(
        f"""glim AS MATERIALIZED (
        SELECT CASE WHEN max(len(w)) > {greedy_steps + 1}
               THEN error('bpe_encode_sql: word longer than '
                    || '{greedy_steps + 1} chars exceeds the '
                    || 'greedy_steps={greedy_steps} fixpoint bound')
               ELSE 1 END AS ok
        FROM e0
    )"""
    )
    cte.append(
        f"""nsym AS MATERIALIZED (
        SELECT w, len(string_split(d, ' ')) AS n
        FROM e{greedy_steps} CROSS JOIN glim
    )"""
    )
    cte.append(
        """per AS MATERIALIZED (
        SELECT occ.doc_id, count(*) AS n_ws, SUM(nsym.n) AS n_bpe
        FROM occ JOIN nsym USING (w) GROUP BY occ.doc_id
    )"""
    )
    return (
        "WITH " + ",\n".join(cte)
        + f"""
        SELECT d.{id_col} AS doc_id,
               CAST(coalesce(per.n_ws, 0) AS BIGINT) AS n_tokens_ws,
               CAST(coalesce(per.n_bpe, 0) AS BIGINT) AS n_tokens_bpe
        FROM {table} d LEFT JOIN per ON d.{id_col} = per.doc_id"""
    )


def ngram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
) -> DataFrame:
    """CCNet-style corpus-LM quality signal: train an add-k-smoothed
    bigram language model ON the corpus itself (one aggregation
    pass), then score every document by its average bigram negative
    log-likelihood — low = looks like the corpus (fluent prose),
    high = tag soup / boilerplate / wrong register. The classic
    perplexity filter for training-data curation, minus the external
    KenLM dependency.

    P(w2 | w1) = (c(w1 w2) + k) / (c(w1) + k·V), all counts exact
    corpus-wide; tokens split under the TOKEN_SEP ASCII contract and
    case-folded with :func:`ascii_lower` (engine ``lower()`` is not
    portable: final sigma / dotted-İ fold differently in Java vs
    utf8proc). Documents with fewer than two tokens have no bigrams
    and drop out (inner-join semantics, mirrored by the oracle).

    Scale shape: the model trains in ONE corpus pass — zip_with
    pads the final token of each doc with a NULL successor, so the
    (w1, w2) pair aggregate carries BOTH vocabularies: unigram
    counts are the per-w1 rollup (every token appears exactly once
    as w1), bigram counts are the non-NULL-w2 rows. That
    |V²∩corpus|-row frame localCheckpoints (three consumers: uni,
    big, and V — the pre-r8 plan derived uni and big as separate
    consumers of the lazy token stream and Catalyst re-scanned and
    re-tokenized the corpus per consumer; the bm25/dedup-cluster
    lesson). The instance stream then joins the two count tables
    (AQE converts to broadcast when they fit) and one per-document
    aggregate — 2 corpus passes total. The corpus is never
    self-joined and the model "training" IS the counting pass — no
    iteration.
    avg_nll is rounded to 3 decimals: per-doc terms are few and
    similar magnitude, so double-summation order noise (~1e-13)
    cannot flip the rounding."""
    fold = ASCII_LOWER_SQL.format(col="x")
    toks = df.select(
        F.col(id_col),
        F.expr(
            f"filter(transform(split(trim({text_col}), "
            f"'{TOKEN_SEP_SQL}'), x -> {fold}), x -> x != '')"
        ).alias("toks"),
    )
    inst = (
        toks.select(
            id_col,
            F.explode(
                F.expr(
                    "zip_with(toks, slice(toks, 2, size(toks)),"
                    " (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("bg"),
        )
        .filter(F.col("bg.w2").isNotNull())
        .select(id_col, "bg.w1", "bg.w2")
    )
    pair_counts = (
        toks.select(
            F.explode(
                F.expr(
                    "zip_with(toks, slice(toks, 2, size(toks)),"
                    " (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")  # w2 NULL = end-of-doc pad
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # 3 consumers: uni, big, vocab-size
    )
    uni = pair_counts.groupBy("w1").agg(F.sum("c").alias("c1"))
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    big = pair_counts.filter(F.col("w2").isNotNull()).select(
        "w1", "w2", F.col("c").alias("c2")
    )
    # attach the 1-row V to the VOCAB-sized count table, not the
    # corpus-sized instance stream — the broadcast-nested-loop pass
    # then touches |V| rows instead of every bigram instance
    uni_v = uni.crossJoin(F.broadcast(vocab))
    scored = (
        inst.join(big, ["w1", "w2"])
        .join(uni_v, "w1")
        .withColumn(
            "nll",
            -F.log(
                (F.col("c2") + F.lit(k))
                / (F.col("c1") + F.lit(k) * F.col("v"))
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nll"), 3).alias("avg_nll"),
    )


def sentence_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence-level shape signals: count, mean length (tokens),
    and longest sentence — the classic fluency/boilerplate
    discriminators (prose has mid-length sentences; tag soup has
    either no terminators or thousands of one-token "sentences").

    The segmentation contract is deliberately ASCII-regex-portable,
    like TOKEN_SEP/ascii_lower: sentences split on runs of ``.!?``,
    each segment trimmed of ASCII whitespace, empties dropped;
    tokens within a sentence use the TOKEN_SEP class. Everything is
    JVM array HOFs over the scan — shuffle-free — and the DuckDB
    oracle runs the identical regexes."""
    trim_ws = (
        "regexp_replace(regexp_replace({s}, '^[ \\\\t\\\\n\\\\f\\\\r]+', ''),"
        " '[ \\\\t\\\\n\\\\f\\\\r]+$', '')"
    )
    sents = (
        "filter(transform(split(coalesce({c}, ''), '[.!?]+'),"
        " s -> " + trim_ws.format(s="s") + "), s -> s != '')"
    ).format(c=text_col)
    lens = (
        f"transform({sents}, s -> size(split(s, '{TOKEN_SEP_SQL}')))"
    )
    return df.select(
        F.col(id_col),
        F.expr(f"size({sents})").cast("bigint").alias("n_sentences"),
        F.expr(
            f"round(cast(aggregate({lens}, 0, (a, x) -> a + x) as double)"
            f" / nullif(size({sents}), 0), 3)"
        ).alias("avg_sentence_tokens"),
        F.expr(
            f"coalesce(array_max({lens}), 0)"
        ).cast("bigint").alias("max_sentence_tokens"),
    )


def bm25_rank(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 ranking of the corpus against a fixed query-term
    set — the sparse-retrieval scorer next to :func:`tf_idf_top_terms`
    (idf: ``ln(1 + (N − df + 0.5)/(df + 0.5))``; tf saturation k1,
    length normalization b against the corpus-average length).

    Scale shape: the corpus tokenizes ONCE — document length and
    all |q| term frequencies come out of a single per-doc
    conditional aggregate (one scan, one shuffle on the doc id).
    That per-doc frame is |docs| rows (not tokens) and has three
    consumers (corpus stats, document frequencies, scoring), so it
    localCheckpoints — the pre-r8 formulation derived dl/tf/stats/
    dfreq as separate consumers of the lazy token stream and
    Catalyst inlined the tokenize subplan into each: 4-5 FileScans
    of the corpus, each a full re-tokenization (the dedup-cluster
    lesson; pinned in tests/test_scale_patterns.py). N rides on a
    second id-only scan (N counts all docs with a non-NULL id —
    NULL-id docs are excluded from every corpus statistic;
    token-less docs contribute length 0 to avgdl); N/avgdl and
    the |q|-row dfreq
    table broadcast. The final top-k is orderBy+limit →
    TakeOrderedAndProject (per-partition heaps), never a global
    sort. Scores are rounded before the cut so cross-engine float
    noise cannot flip the boundary; ties break on the smaller doc
    id.
    """
    # NULL-id docs are unrankable (the output IS doc ids) and must
    # not inflate dfreq/N/avgdl — pre-r8 dfreq was
    # countDistinct(doc_id), which a row count over the per-doc
    # frame silently diverges from on NULL ids (the dsir/bloom
    # convention: filter ids first).
    df = df.filter(F.col(id_col).isNotNull())
    q = sorted(set(query_terms))
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(ascii_lower(F.col(text_col)))).alias("token"),
    ).filter(F.col("token") != "")
    per_doc = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(
                F.when(F.col("token") == t, 1).otherwise(0)
            ).alias(f"__tf_{i}")
            for i, t in enumerate(q)
        ],
    ).localCheckpoint()  # |docs| rows; 3 consumers below
    stats = df.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        F.broadcast(per_doc.agg(F.sum("dl").alias("tot_len")))
    )
    # unpivot the conditional counts back to (id, token, tf) rows —
    # struct literals, not stack(), so query terms never splice
    # into SQL text; dl rides along, saving the join the old
    # formulation paid
    pairs = F.array(
        *[
            F.struct(
                F.lit(t).alias("token"),
                F.col(f"__tf_{i}").alias("tf"),
            )
            for i, t in enumerate(q)
        ]
    )
    tf = (
        per_doc.select(F.col(id_col), "dl", F.explode(pairs).alias("p"))
        .select(id_col, "dl", F.col("p.token"), F.col("p.tf"))
        .filter(F.col("tf") > 0)
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            (
                F.log(
                    1
                    + (F.col("n_docs") - F.col("dfreq") + 0.5)
                    / (F.col("dfreq") + 0.5)
                )
                * F.col("tf") * (k1 + 1)
                / (
                    F.col("tf")
                    + k1
                    * (
                        1 - b
                        + b * F.col("dl")
                          / (F.col("tot_len") / F.col("n_docs"))
                    )
                )
            ).alias("part")
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("part"), 4).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(top_k)


def bm25_rank_multi(
    df: DataFrame,
    queries: dict[int, list[str]],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """All of :func:`bm25_rank`'s per-query outputs for a SET of
    queries from ONE corpus pass (r11; guide §2.4 remove passes
    outright): tokenize once, aggregate one per-doc frame over the
    UNION of query terms, and derive every query's ranking from it.
    The per-(doc, term) BM25 contribution is query-independent —
    idf needs only dfreq(term) and the corpus stats — so each
    query's score is the rounded sum of ITS terms' contributions,
    exactly the numbers :func:`bm25_rank` computes per call (same
    formula, same round(4)-before-cut, same id tiebreak; the
    round-before-compare convention already makes the sum
    order-insensitive at the emitted precision).

    Returns ``(ranked, matched)``:

    * ``ranked`` — (query_id, doc_id, score, rank), rank ≤ top_k
      per query via a rank-window + filter that compiles to
      WindowGroupLimit (per-partition top-k heaps — the distributed
      equivalent of bm25_rank's TakeOrderedAndProject, per group);
    * ``matched`` — (query_id, doc_id, nt): how many DISTINCT terms
      of that query the doc contains — the term-coverage count
      retrieval graders need, free from the same per-doc frame (a
      separate corpus tokenize before r11).

    At 100 TB this turns |queries|+1 corpus tokenizations into one.
    """
    from pac_data_pipeline_spark.session import local_table

    df = df.filter(F.col(id_col).isNotNull())
    q_all = sorted({t for ts in queries.values() for t in ts})
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(ascii_lower(F.col(text_col)))).alias("token"),
    ).filter(F.col("token") != "")
    per_doc = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(
                F.when(F.col("token") == t, 1).otherwise(0)
            ).alias(f"__tf_{i}")
            for i, t in enumerate(q_all)
        ],
    ).localCheckpoint()  # 3 consumers: stats, contributions, coverage
    stats = df.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        F.broadcast(per_doc.agg(F.sum("dl").alias("tot_len")))
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(t).alias("token"),
                F.col(f"__tf_{i}").alias("tf"),
            )
            for i, t in enumerate(q_all)
        ]
    )
    tf = (
        per_doc.select(F.col(id_col), "dl", F.explode(pairs).alias("p"))
        .select(id_col, "dl", F.col("p.token"), F.col("p.tf"))
        .filter(F.col("tf") > 0)
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq"))
    qt = F.broadcast(
        local_table(
            df.sparkSession,
            # per-query dedup (sorted(set(..))) keeps multi and
            # single-query paths value-identical even for a query
            # list carrying a duplicated term: bm25_rank dedups via
            # sorted(set(query_terms)); without it a duplicate here
            # would double-count both the score sum and matched nt
            [
                (qid, t)
                for qid, ts in sorted(queries.items())
                for t in sorted(set(ts))
            ],
            "query_id int, token string",
        )
    )
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            "token",
            (
                F.log(
                    1
                    + (F.col("n_docs") - F.col("dfreq") + 0.5)
                    / (F.col("dfreq") + 0.5)
                )
                * F.col("tf") * (k1 + 1)
                / (
                    F.col("tf")
                    + k1
                    * (
                        1 - b
                        + b * F.col("dl")
                          / (F.col("tot_len") / F.col("n_docs"))
                    )
                )
            ).alias("part"),
        )
        .join(qt, "token")
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("part"), 4).alias("score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    ranked = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", id_col, "score", "rank")
    )
    matched = (
        tf.join(qt, "token")
        .groupBy("query_id", id_col)
        .agg(F.count(F.lit(1)).alias("nt"))
    )
    return ranked, matched


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_postings: int = 16,
    salt_buckets: int = 32,
) -> DataFrame:
    """Build the physical counterpart of :func:`bm25_rank`'s scorer:
    one row per term with its document frequency and a champion list
    — the ``max_postings`` SMALLEST doc ids (ascending; smallest-k is
    deterministic where "first k seen" is not). Tokenization is the
    standard contract (TOKEN_SEP + ascii_lower).

    Scale shape — the stopword problem is the whole design: a term
    like 'the' posts in every document, so a naive
    groupBy(term).collect_list() funnels |corpus| rows through ONE
    reducer and materializes an O(|docs|) array. Instead the
    smallest-k merge runs in two stages, exploiting that min-k is
    losslessly composable: (1) group by (term, doc_id % salt_buckets)
    — the salt splits any hot term across ``salt_buckets`` reducers,
    each keeping a count and its local k-smallest; (2) group by term
    over at most ``salt_buckets`` pre-aggregated rows per term,
    summing counts and re-merging the k-smallest. No reducer ever
    holds more than ~df/salt_buckets ids in stage 1 or
    salt_buckets × max_postings in stage 2. The salt is
    ``doc_id % salt_buckets`` (not an engine hash) so a SQL oracle
    reproduces the identical two-stage plan.
    """
    dtd = (
        df.select(
            F.col(id_col),
            F.explode(tokens(ascii_lower(F.col(text_col)))).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("term", id_col)  # distinct, map-side combinable
        .agg(F.lit(1).alias("__one"))
    )
    stage1 = dtd.groupBy(
        "term", (F.col(id_col) % salt_buckets).alias("__salt")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.slice(
            F.array_sort(F.collect_list(id_col)), 1, max_postings
        ).alias("ks"),
    )
    return stage1.groupBy("term").agg(
        F.sum("cnt").alias("df"),
        F.slice(
            F.array_sort(F.flatten(F.collect_list("ks"))), 1, max_postings
        ).alias("postings"),
    )


#: Candidate card numbers are MAXIMAL digit runs of length 13–19:
#: split the text on non-digits and length-filter the pieces. Runs
#: of 20+ digits yield NOTHING — deliberate, they are ids/hashes,
#: not cards. The earlier consuming-boundary regex
#: ``(^|[^0-9])([0-9]{13,19})([^0-9]|$)`` silently skipped a card
#: separated from the previous match by a SINGLE non-digit (RE2 has
#: no lookaround, so group 3 consumed the separator —
#: '4111111111111111,4012888888881881' yielded one candidate); the
#: split formulation has no adjacency blind spot and both engines
#: express it natively (Spark split + filter HOF, DuckDB
#: regexp_split_to_array + list_filter). Splitting on RUNS of
#: non-digits ('+') keeps the array O(#digit-runs); the single-char
#: class would materialize one empty element per separator
#: character of prose in the scan stage.
CARD_SPLIT = r"[^0-9]+"


def luhn_valid_col(digits: Column) -> Column:
    """Luhn checksum (ISO/IEC 7812) as a pure column expression —
    reverse the digit string, double every second digit, fold the
    digit sum with ``aggregate``; valid iff total ≡ 0 (mod 10).
    No UDF: the whole check stays inside whole-stage codegen, and
    the identical arithmetic is one DuckDB list comprehension (see
    the x_pii_luhn oracle)."""
    rev = F.reverse(digits)
    idx = F.sequence(F.lit(1), F.length(digits))
    d = lambda i: rev.substr(i, F.lit(1)).cast("int")  # noqa: E731
    terms = F.transform(
        idx,
        lambda i: F.when(
            i % 2 == 0,
            F.when(d(i) * 2 > 9, d(i) * 2 - 9).otherwise(d(i) * 2),
        ).otherwise(d(i)),
    )
    total = F.aggregate(terms, F.lit(0), lambda acc, x: acc + x)
    return total % 10 == 0


def card_scan(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Checksum-validated card detection — the PII gate regex alone
    can't provide: a 16-digit order id matches the shape but fails
    Luhn, so validating candidates cuts the false-positive rate that
    makes shape-only scrubbing unusable on numeric-heavy corpora.
    One row per doc: candidate count, Luhn-valid count, and the
    valid numbers' total digit mass (for redaction budgeting).
    Shuffle-free scan-stage expressions throughout. Candidates are
    maximal digit runs (see :data:`CARD_SPLIT`) — no
    adjacent-separator blind spot."""
    cands = F.filter(
        F.split(F.col(text_col), CARD_SPLIT),
        lambda s: (F.length(s) >= 13) & (F.length(s) <= 19),
    )
    valid = F.filter(cands, luhn_valid_col)
    return df.select(
        F.col(id_col),
        F.size(cands).cast("bigint").alias("n_candidates"),
        F.size(valid).cast("bigint").alias("n_valid"),
        F.aggregate(
            valid, F.lit(0).cast("bigint"),
            lambda acc, c: acc + F.length(c),
        ).alias("valid_digit_mass"),
    )


def tokenizer_fertility(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-language tokenizer-health metrics: bytes/token and
    chars/token ("fertility") plus corpus mass — the table a
    multilingual pipeline watches to catch languages the tokenizer
    fragments (high fertility = more tokens per byte = that
    language pays more sequence length for the same content).
    Tokenization is the standard TOKEN_SEP contract; byte length is
    ``octet_length`` (UTF-8 octets — THE size that matters for
    storage and for byte-level tokenizers), chars are codepoints.

    Scale shape: one scan computing three scalar measures per row,
    one map-side-combinable aggregation on the (low-cardinality)
    language key. NULL-text rows are dropped; NULL language groups
    as its own bucket (a real pipeline wants unlabeled mass
    visible, not silently merged)."""
    t = F.col(text_col)
    per_doc = df.filter(t.isNotNull()).select(
        F.col(lang_col).alias("lang"),
        F.octet_length(t).alias("__bytes"),
        F.length(t).alias("__chars"),
        F.size(F.filter(tokens(t), lambda x: x != "")).alias("__toks"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__bytes").cast("bigint").alias("total_bytes"),
        F.sum("__toks").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum("__bytes") / F.nullif(F.sum("__toks"), F.lit(0)), 4
        ).alias("bytes_per_token"),
        F.round(
            F.sum("__chars") / F.nullif(F.sum("__toks"), F.lit(0)), 4
        ).alias("chars_per_token"),
    )


def feature_hash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 32,
) -> DataFrame:
    """Hashing-trick bag-of-words vectorizer (Weinberger et al.,
    ICML'09): each token maps to ``md5(token) % n_buckets`` and the
    document becomes a dense count vector — the vocabulary-free
    featurization step that scales where a fitted vocabulary cannot
    (no global dictionary, no second pass, no OOV).

    Scale shape: ZERO shuffles — tokenize, hash, and count are all
    whole-stage-codegen HOFs per row; the corpus is embarrassingly
    parallel. md5 runs ONCE per token (an `aggregate` fold
    increments the count array; recomputing the hash per bucket
    probe would cost 32×). Portable by construction: md5 is
    standardized (engine hash functions never match), tokens follow
    the TOKEN_SEP + ascii_lower contracts, and the count vector
    serializes via array_join because the driver hashes scalars.

    Returns ``(id_col, features, n_tokens, nnz)``; NULL text yields
    NULL features (unknown, not empty).
    """
    toks = (
        f"filter(split(trim({ASCII_LOWER_SQL.format(col=text_col)}), "
        f"'{TOKEN_SEP_SQL}'), t -> t <> '')"
    )
    bkts = (
        f"transform({toks}, t -> CAST(CAST(conv(substring(md5(t), 1, 8), "
        f"16, 10) AS BIGINT) % {n_buckets} AS INT))"
    )
    counts = (
        f"aggregate({bkts}, "
        f"transform(sequence(1, {n_buckets}), i -> 0L), "
        "(acc, x) -> transform(acc, (v, i) -> "
        "CASE WHEN i = x THEN v + 1L ELSE v END))"
    )
    return docs.select(
        id_col,
        F.expr(f"array_join({counts}, ',')").alias("features"),
        F.expr(f"size({toks})").alias("n_tokens"),
        F.expr(f"size(filter({counts}, c -> c > 0))").alias("nnz"),
    )


def feature_hash_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 32,
) -> str:
    """The same vectorizer as DuckDB SQL from the same constants.
    The bucket ids compute once in a subquery (DuckDB has no
    fold-with-array accumulator; counting via 32 list_filter probes
    over the precomputed int list gives the identical counts).
    NOTE the raw ``TOKEN_SEP`` here, not ``TOKEN_SEP_SQL`` — DuckDB
    string literals do NOT unescape backslashes, so the Spark-parser
    (doubled) form would turn the char class into one matching the
    LETTERS t/n/f/r."""
    lower = f"translate({text_col}, '{_ASCII_UPPER}', '{_ASCII_LOWER}')"
    return f"""
        WITH b AS (
            SELECT {id_col},
                   CASE WHEN {text_col} IS NULL THEN NULL ELSE
                   list_transform(
                       list_filter(string_split_regex(
                           trim({lower}, ' '), '{TOKEN_SEP}'),
                           t -> t <> ''),
                       t -> CAST(CAST(concat('0x', substr(md5(t), 1, 8))
                            AS BIGINT) % {n_buckets} AS INT))
                   END AS bkts
            FROM {table}
        )
        SELECT {id_col},
               CASE WHEN bkts IS NULL THEN NULL ELSE
               array_to_string(list_transform(range(0, {n_buckets}),
                   x -> len(list_filter(bkts, e -> e = x))), ',')
               END AS features,
               len(bkts) AS n_tokens,
               -- the outer list_filter runs over a NON-NULL range
               -- list, so without the guard a NULL doc collapses to
               -- nnz = 0 instead of NULL (null-fuzz catch)
               CASE WHEN bkts IS NULL THEN NULL ELSE
               len(list_filter(list_transform(range(0, {n_buckets}),
                   x -> len(list_filter(bkts, e -> e = x))),
                   c -> c > 0))
               END AS nnz
        FROM b
    """
