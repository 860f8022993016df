"""Corpus-trained text classification: multinomial Naive Bayes.

The classifier tier of an LLM data pipeline (fastText-style
quality/domain filtering — e.g. "wiki-like vs crawl" gates): train
token statistics on labeled documents, then score every document
against every label and keep the argmax. Everything is expressed as
DataFrame aggregations under the pinned cross-engine text contract
(:data:`~pac_data_pipeline_spark.ext.text.TOKEN_SEP` tokenization +
``ascii_lower`` folding), so a DuckDB oracle reproduces the whole
train+predict pipeline hash-exactly.

Semantics (multinomial NB, add-one smoothing, natural logs)::

    score(d, l) = ln(d_l / N)                        # doc-count prior
                + Σ_t m(d,t) · ln(c(t,l) + 1)        # seen-token term
                - M_d · ln(n_l + V)                  # normalizer

    prediction(d) = argmax_l round(score, 2)         # ties → min label

The third line is the load-bearing rewrite for scale: because
unseen-in-label tokens contribute ``ln(0 + 1) = 0`` to the numerator
sum, scoring needs only an INNER join between per-doc token counts
and the model — never a dense doc × label × vocab expansion. The
normalizer needs nothing but the doc's total token count.

Plan shape / 100 TB judgment: the text column — the only wide input
— is scanned and exploded ONCE into a ``(doc, label, token) → m``
aggregate (label is functionally dependent on doc, so the extra
grouping key changes nothing but lets train and predict share the
stage); the model, per-doc totals, and sparse scores all derive from
that one counted stream, so every later shuffle moves counts, not
text. The pair key spreads hot stopwords like the skew-safe distinct
pattern. The model is vocab-sized and broadcast-joins onto the count
stream; label stats are |labels| rows carried as a broadcast
(BroadcastNestedLoopJoin by construction — the whitelisted tiny-dim
pattern). Prior/corpus counts read only (id, label) — a
column-pruned scan that never touches text. No collect() anywhere.

Scores are rounded before the argmax so cross-engine float
summation-order noise (~1e-12 on ~1e3-magnitude log sums) cannot
flip the ranking; ties after rounding break on the smaller label.

Reference parity: the reference pipeline has no ML surface — this is
the beyond-reference extension tier (SURVEY.md §2.10), following the
standard multinomial NB formulation (McCallum & Nigam 1998).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pac_data_pipeline_spark.ext.text import ascii_lower, tokens


def _doc_token_counts(
    df: DataFrame, id_col: str, text_col: str, extra: list[Column]
) -> DataFrame:
    """The one text-column scan: explode under the pinned contract
    (TOKEN_SEP split, ascii fold, empty tokens dropped) and count per
    (doc[, extra], token) — everything downstream consumes counts."""
    return (
        df.select(
            F.col(id_col), *extra,
            F.explode(tokens(ascii_lower(F.col(text_col)))).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy(F.col(id_col), *extra, F.col("token"))
        .agg(F.count(F.lit(1)).alias("m"))
    )


def _model_from_counts(
    dtl: DataFrame, base: DataFrame, label_col: str
) -> tuple[DataFrame, DataFrame]:
    """(token_counts, label_stats) from the counted token stream plus
    the column-pruned (id, label) base: token_counts is vocab-sized
    (label, token, c); label_stats is |labels| rows with token totals
    n_l, doc counts d_l, corpus doc count n_docs, vocab size v."""
    token_counts = (
        dtl.filter(F.col(label_col).isNotNull())
        .groupBy(label_col, "token")
        .agg(F.sum("m").alias("c"))
    )
    label_tokens = token_counts.groupBy(label_col).agg(
        F.sum("c").alias("n_l")
    )
    vocab = token_counts.select("token").distinct().agg(
        F.count(F.lit(1)).alias("v")
    )
    labeled = base.filter(F.col(label_col).isNotNull())
    label_docs = labeled.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("d_l")
    )
    corpus = labeled.agg(F.count(F.lit(1)).alias("n_docs"))
    label_stats = (
        label_docs.join(label_tokens, label_col)
        .crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(vocab))
    )
    return token_counts, label_stats


def _predict_from_counts(
    base: DataFrame,
    dtl: DataFrame,
    token_counts: DataFrame,
    label_stats: DataFrame,
    label_col: str,
    id_col: str,
) -> DataFrame:
    """Score from counted streams only: sparse numerator via inner
    broadcast join on seen tokens, normalizer from per-doc totals,
    argmax over the rounded score."""
    doc_counts = dtl.select(id_col, "token", "m")
    doc_totals = doc_counts.groupBy(id_col).agg(F.sum("m").alias("m_d"))
    sparse = (
        doc_counts.join(F.broadcast(token_counts), "token")
        .groupBy(id_col, label_col)
        .agg(F.sum(F.col("m") * F.log(F.col("c") + 1)).alias("s"))
    )
    grid = (
        base.select(id_col)
        .crossJoin(F.broadcast(label_stats))
        .join(doc_totals, id_col, "left")
        .join(sparse, [id_col, label_col], "left")
        .select(
            id_col,
            F.col(label_col),
            F.round(
                F.log(F.col("d_l") / F.col("n_docs"))
                + F.coalesce(F.col("s"), F.lit(0.0))
                - F.coalesce(F.col("m_d"), F.lit(0)).cast("double")
                * F.log((F.col("n_l") + F.col("v")).cast("double")),
                2,
            ).alias("score"),
            F.coalesce(F.col("m_d"), F.lit(0)).cast("bigint").alias("n_tokens"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc(label_col)
    )
    return (
        grid.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            id_col,
            F.col(label_col).alias("pred_" + label_col),
            "score",
            "n_tokens",
        )
    )


def nb_train(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Fit the model: returns ``(token_counts, label_stats)``.

    ``token_counts``: one row per (label, token) with instance count
    ``c`` — vocab-sized, the broadcastable side of scoring.
    ``label_stats``: one row per label with total token instances
    ``n_l``, doc count ``d_l``, corpus doc count ``n_docs``, and
    vocab size ``v`` (distinct tokens among labeled docs). Rows with
    a NULL label are excluded from training."""
    dtl = _doc_token_counts(
        df, id_col, text_col, [F.col(label_col)]
    )
    return _model_from_counts(
        dtl, df.select(id_col, label_col), label_col
    )


def nb_classify(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Self-train on the labeled rows of ``df`` and score every row
    (including unlabeled ones) — the one-call registry shape. Train
    and predict share ONE (doc, label, token)-counted text scan:
    label is functionally dependent on doc, so the shared grouping
    key yields identical counts for both consumers while keeping the
    wide text column out of every downstream stage."""
    # materialize the counted stream once: its three consumers
    # (model, doc totals, sparse scores) would otherwise each
    # re-plan the explode — and the train-side null filter pushes
    # through the aggregate to the scan, defeating runtime exchange
    # reuse. localCheckpoint, not persist(): checkpoint blocks are
    # reclaimed by the ContextCleaner when the result frame is
    # dropped, whereas CacheManager entries leak until an explicit
    # unpersist — which nothing here could issue without forcing
    # execution (same leak dedup_text hit; see
    # ext/dedup_text.py:236-241). Token-count-sized, ≪ corpus.
    dtl = _doc_token_counts(
        df, id_col, text_col, [F.col(label_col)]
    ).localCheckpoint()
    base = df.select(id_col, label_col)
    token_counts, label_stats = _model_from_counts(dtl, base, label_col)
    return _predict_from_counts(
        base, dtl, token_counts, label_stats, label_col, id_col
    )
