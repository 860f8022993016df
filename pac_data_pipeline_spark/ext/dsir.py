"""DSIR — Data Selection via Importance Resampling (Xie et al.,
NeurIPS 2023): score every raw document by how much its hashed
n-gram feature distribution looks like a TARGET corpus relative to
the RAW corpus, then keep the highest-scoring docs as training data.

The reference pipeline has no data-selection stage at all (its scope
ends at groupby/rollup reporting — ``pac_data_processor.py``); this
module is part of the mandated training-data extension surface.

Fixed-point contract: the paper accumulates per-feature
log-likelihood ratios (``Σ count_f · log(p_target(f)/p_raw(f))``).
``log`` is libm territory — not guaranteed bit-identical across
engines — so the portable scorer accumulates the smoothed importance
RATIOS themselves in integer micro-units: each bucket's weight is

    w_micro(b) = (1_000_000 · (t_b + 1) · (R + B)) div ((r_b + 1) · (T + B))

an exact integer both Spark and any SQL oracle reproduce bit-for-bit
(the ``jaccard``/``pagerank`` exact-rational convention), and a
document's score is the exact bigint ``Σ count_b · w_micro(b)``.
Ratio-sum and log-ratio-sum agree on which docs look target-like
(both are monotone in every per-bucket ratio); they are NOT the same
ordering in general — a production log-domain tier is one
``F.log`` swap away and is deliberately not the oracle tier.

Scale shape (designed for the 100 TB case):
- one corpus scan builds (doc, bucket) feature counts — tokenize
  once via the staged-token contract, hash each bigram with the
  portable 60-bit md5, ONE shuffle on (doc_id, bucket);
- that small frame (≤ docs × B rows) is localCheckpointed because it
  has three consumers (bucket stats, totals, per-doc scoring) — the
  multi-consumer materialization lesson from the dedup-cluster
  family;
- the bucket table is B rows (1024 default) → broadcast; the totals
  are a 1-row broadcast cross-join (whitelisted pattern). The
  corpus never shuffles a second time.

Overflow headroom: the micro-numerator 1e6·(T+B)·(R+B) is computed
in DECIMAL(38,0) — exact to 1e38, which covers ~1e16 feature
occurrences per side (far past 100 TB of text), and ANSI-errors
loudly rather than wrapping beyond that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pac_data_pipeline_spark.ext.dedup_text import portable_hash60
from pac_data_pipeline_spark.ext.text import TOKEN_SEP_SQL
from pac_data_pipeline_spark.session import ensure_parallelism

MICRO = 1_000_000


def doc_feature_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Hashed-bigram feature counts per document: one row per
    (doc, bucket) with the occurrence count (NOT distinct — DSIR is
    a bag-of-features model). Tokenization is the staged-token
    contract (split once, slice the attribute); docs shorter than 2
    tokens have no bigram and contribute no rows. ``keep_cols`` ride
    along (they must be functionally dependent on the id, e.g. the
    domain label used to carve the target)."""
    staged = ensure_parallelism(df).withColumn(
        "__toks", F.expr(f"split(trim({text_col}), '{TOKEN_SEP_SQL}')")
    )
    grams = staged.filter(
        F.col(id_col).isNotNull() & (F.size("__toks") >= 2)
    ).select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.explode_outer(
            F.expr(
                "transform(sequence(1, size(__toks) - 1),"
                " i -> concat_ws(' ', slice(__toks, i, 2)))"
            )
        ).alias("__gram"),
    )
    return grams.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        (portable_hash60(F.col("__gram")) % n_buckets).alias("bucket"),
    ).groupBy(id_col, *keep_cols, "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def dsir_scores(
    df: DataFrame,
    target_pred,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    target_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Fixed-point DSIR importance score for every document.

    ``target_pred`` is a Column predicate (over ``target_cols``,
    which must be carried columns of ``df``) selecting the rows that
    DEFINE the target distribution — e.g. ``F.col("lang") == "en"``.
    The raw distribution is the whole corpus. Returns
    (doc_id, n_feats, dsir_micro) for EVERY input document;
    featureless docs (null/blank/single-token text) score 0 — they
    carry no evidence either way and a selection stage downstream
    drops them on n_feats, not on a fabricated score.
    """
    feats = doc_feature_counts(
        df, text_col, id_col, n_buckets, keep_cols=tuple(target_cols)
    ).localCheckpoint()  # 3 consumers below — materialize once

    is_target = F.when(target_pred, F.col("cnt")).otherwise(F.lit(0))
    bucket_stats = feats.groupBy("bucket").agg(
        F.sum("cnt").alias("r_b"),
        F.sum(is_target).alias("t_b"),
    )
    totals = bucket_stats.agg(
        F.sum("r_b").alias("r_tot"), F.sum("t_b").alias("t_tot")
    )
    weights = (
        bucket_stats.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            # DECIMAL(38,0) numerator: bigint math would silently
            # wrap past ~3e6 feature occurrences per side (Spark
            # non-ANSI wraps; DuckDB promotes) — decimal keeps the
            # product exact to 1e38; past that, this session's
            # default non-ANSI mode yields NULL (not an error —
            # spark.sql.ansi.enabled is unset repo-wide), which is
            # still unreachable for any physical corpus
            # (1e6·R·T ≤ ~4e32 at 100 TB). `div` on decimals
            # returns the exact integral quotient as bigint.
            F.expr(
                f"(CAST({MICRO} AS DECIMAL(38,0)) * (t_b + 1)"
                f" * (r_tot + {n_buckets}))"
                f" div ((r_b + 1) * (t_tot + {n_buckets}))"
            ).alias("w_micro"),
        )
    )
    scored = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("w_micro")).alias("dsir_micro"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_feats", F.lit(0)).cast("bigint").alias("n_feats"),
            F.coalesce("dsir_micro", F.lit(0)).cast("bigint").alias(
                "dsir_micro"
            ),
        )
    )
