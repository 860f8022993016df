"""Aggregation operators (SURVEY §2.6).

All of these compile to Spark's partial+final hash aggregation —
map-side combine shrinks the shuffle to ~|groups| rows per partition
before any network transfer, which is what makes single-shuffle
group-bys viable at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def groupby_sum(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    sum_alias: str = "total",
    count_alias: str | None = None,
) -> DataFrame:
    """A1-A3: group-by sum (single or composite key), optional
    per-group count (reference pac_data_processor.py:69, :347,
    :357-360)."""
    aggs: list[Column] = [F.sum(value_col).alias(sum_alias)]
    if count_alias:
        aggs.append(F.count(F.lit(1)).alias(count_alias))
    return df.groupBy(*keys).agg(*aggs)


def conditional_party_rollup(
    df: DataFrame,
    group_keys: Sequence[str],
    party_col: Column | str,
    amount_col: str,
    democrat_value: str = "democrat",
    republican_value: str = "republican",
    having_positive: bool = True,
) -> DataFrame:
    """A4 + F7 (the reference's flagship, pac_snowflake_realtime.py:
    90-126): per group, sum amounts where the party classification
    matches each side; keep groups with at least one positive total.

    The reference iterates rows per group in Python; here it is a
    single ``groupBy().agg(sum(when(...)))`` — one shuffle, partial
    aggregation before it, whole-stage codegen around it.
    """
    party = F.col(party_col) if isinstance(party_col, str) else party_col
    amt = F.col(amount_col)
    out = df.groupBy(*group_keys).agg(
        F.coalesce(F.sum(F.when(party == democrat_value, amt)), F.lit(0.0)).alias(
            "democrat_total"
        ),
        F.coalesce(F.sum(F.when(party == republican_value, amt)), F.lit(0.0)).alias(
            "republican_total"
        ),
    )
    if having_positive:
        out = out.filter(
            (F.col("democrat_total") > 0) | (F.col("republican_total") > 0)
        )
    return out


def distinct_values(df: DataFrame, col: str) -> DataFrame:
    """A6: sorted distinct values (pac_data_processor.py:343)."""
    return df.select(col).distinct().orderBy(col)


def global_summary(df: DataFrame, value_col: str) -> DataFrame:
    """A7: global sum + count in one pass."""
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(value_col).alias("total"),
    )


def frequency_table(df: DataFrame, col: str) -> DataFrame:
    """A8: ``value_counts()`` (pac_data_processor.py:352-354) —
    count per value, most frequent first (value as tiebreak so the
    order is deterministic)."""
    return (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.col(col))
    )


def rfm_segments(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the classic marketing-analytics rollup. Each customer gets
    1..5 scores per dimension and a named segment.

    Scale shape: scores do NOT come from a global ntile (a window
    ordering every customer through one task — the canonical
    scale-killer); instead the four quintile BOUNDARIES per metric
    come from one exact-percentile aggregate (a 1-row frame that
    rides a broadcast), and each customer scores by comparison —
    embarrassingly parallel. With boundary ties the comparison form
    assigns the LOWER score to boundary values on every engine
    (ntile would split ties arbitrarily by partition order).

    Float contract: recency compares in epoch seconds (exact
    BIGINT), monetary in round-2 sums, and the quintile boundaries
    floor-round to 6 before any comparison (the iqr_outliers
    discipline). NULL customers drop.
    """

    def _r6(c):
        return F.floor(c * 1e6 + F.lit(0.5)) / F.lit(1e6)

    per_cust = (
        orders.filter(F.col(cust_col).isNotNull())
        .groupBy(cust_col)
        .agg(
            # NTZ→timestamp→long (ANSI blocks NTZ→long directly); the
            # session runs UTC, so this equals DuckDB's naive epoch()
            F.max(
                F.col(date_col).cast("timestamp").cast("long")
            ).alias("recency"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum(amount_col), 2).alias("monetary"),
        )
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    bounds = per_cust.agg(
        *[
            _r6(
                F.expr(f"percentile(CAST({m} AS DOUBLE), {q})")
            ).alias(f"{m[0]}q{int(q * 10)}")
            for m in ("recency", "frequency", "monetary")
            for q in qs
        ]
    )

    def score(metric: str) -> "F.Column":
        c = F.col(metric).cast("double")
        s = F.lit(1)
        for q in qs:
            s = s + (c > F.col(f"{metric[0]}q{int(q * 10)}")).cast("int")
        return s

    scored = per_cust.crossJoin(F.broadcast(bounds)).select(
        cust_col,
        "recency",
        "frequency",
        "monetary",
        score("recency").alias("r_score"),
        score("frequency").alias("f_score"),
        score("monetary").alias("m_score"),
    )
    seg = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion"
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk")
        .when(
            (F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating"
        )
        .otherwise("regular")
    )
    return scored.select(
        cust_col,
        "r_score",
        "f_score",
        "m_score",
        seg.alias("segment"),
    )


def rfm_segments_sql(
    table: str = "orders",
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> str:
    """The same segmentation as DuckDB SQL — identical epoch-seconds
    recency, quantile_cont boundaries with the identical floor-round,
    identical comparison scoring and segment CASE."""
    qs = [0.2, 0.4, 0.6, 0.8]
    bound_cols = ", ".join(
        f"floor(quantile_cont(CAST({m} AS DOUBLE), {q}) * 1000000 + 0.5)"
        f" / 1000000.0 AS {m[0]}q{int(q * 10)}"
        for m in ("recency", "frequency", "monetary")
        for q in qs
    )

    def score(metric: str) -> str:
        terms = " + ".join(
            f"(CASE WHEN CAST({metric} AS DOUBLE) > {metric[0]}q{int(q*10)} "
            "THEN 1 ELSE 0 END)"
            for q in qs
        )
        return f"1 + {terms}"

    return f"""
        WITH per_cust AS (
            SELECT {cust_col},
                   max(CAST(floor(epoch({date_col})) AS BIGINT))
                       AS recency,
                   count(*) AS frequency,
                   round(SUM({amount_col}), 2) AS monetary
            FROM {table}
            WHERE {cust_col} IS NOT NULL
            GROUP BY {cust_col}
        ),
        bounds AS (SELECT {bound_cols} FROM per_cust),
        scored AS (
            SELECT {cust_col},
                   {score("recency")} AS r_score,
                   {score("frequency")} AS f_score,
                   {score("monetary")} AS m_score
            FROM per_cust CROSS JOIN bounds
        )
        SELECT {cust_col},
               CAST(r_score AS INT) AS r_score,
               CAST(f_score AS INT) AS f_score,
               CAST(m_score AS INT) AS m_score,
               CASE
                   WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                   WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
                   WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                   WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                   ELSE 'regular'
               END AS segment
        FROM scored
    """
