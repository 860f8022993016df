"""Deduplication & reconciliation (SURVEY §2.8 J2/J3).

The reference dedups by building a Python dict keyed on a composite
business key, first-in wins (pac_data_processor.py:151-197;
pac_snowflake_pipeline.py:209-250). Insertion order has no
distributed analogue, so we make "first" explicit: a row_number
window over user-named order columns — deterministic under any
partitioning (SURVEY §7.4 #5).

Scale: one shuffle on the key columns; with a skewed key AQE's skew
handling applies because the window partitions by the same key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_keep_first(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """J2: keep the first row per composite key, "first" defined by
    ``order_cols`` ascending. Equivalent oracle SQL::

        SELECT * EXCLUDE rn FROM (
          SELECT *, row_number() OVER (
            PARTITION BY <keys> ORDER BY <order>) AS rn ...) WHERE rn = 1
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def reconcile_counts(
    incoming: DataFrame, existing: DataFrame, label_in: str = "incoming",
    label_ex: str = "existing"
) -> DataFrame:
    """J3: upload-vs-existing reconciliation (check_duplicates.py:
    124-172) — counts of incoming, existing, and incoming rows not
    present in existing (anti-join semantics on all common columns).

    Scale shape: ONE pass over each input. The pre-r8 formulation
    ran the two side counts plus a left-anti join as three separate
    consumers — four scans of the fact when both sides read the
    same table. Instead the sides union with membership markers and
    ONE group-by over the common columns yields all three counts.
    Anti-join NULL semantics are preserved explicitly: a join on
    columns never matches NULL keys (an incoming row with any NULL
    common column is always "new"), while groupBy treats NULLs as
    equal — so the "new" bucket counts groups with zero existing
    rows OR any NULL column.

    A literal left-anti-join formulation (shuffle_hash anti for
    n_new + two scalar count aggregates) measured ~2.8× faster at
    sf0.1 (0.37 s vs 1.0 s) and was REJECTED: its three consumers
    scan each input twice (count pass + join pass) — four corpus
    reads where this shape pays exactly one per side, and at 100 TB
    the duplicated full-table reads dwarf the local hash-agg
    overhead the anti join avoids. Wall time on a 5 MB bench slice
    is the wrong objective for a scan-bound trade."""
    common = [c for c in incoming.columns if c in set(existing.columns)]
    tagged = (
        incoming.select(*common)
        .withColumn("__in", F.lit(1))
        .withColumn("__ex", F.lit(0))
        .unionByName(
            existing.select(*common)
            .withColumn("__in", F.lit(0))
            .withColumn("__ex", F.lit(1))
        )
    )
    grouped = tagged.groupBy(*common).agg(
        F.sum("__in").alias("__ic"), F.sum("__ex").alias("__ec")
    )
    any_null = None
    for c in common:
        cond = F.col(c).isNull()
        any_null = cond if any_null is None else (any_null | cond)
    is_new = (F.col("__ec") == 0) | (
        any_null if any_null is not None else F.lit(False)
    )
    totals = grouped.agg(
        F.coalesce(F.sum("__ic"), F.lit(0)).cast("bigint").alias("n_in"),
        F.coalesce(F.sum("__ec"), F.lit(0)).cast("bigint").alias("n_ex"),
        F.coalesce(
            F.sum(F.when(is_new, F.col("__ic")).otherwise(0)), F.lit(0)
        ).cast("bigint").alias("n_new"),
    )
    return totals.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(label_in).alias("side"),
                    F.col("n_in").alias("n"),
                ),
                F.struct(
                    F.lit(label_ex).alias("side"),
                    F.col("n_ex").alias("n"),
                ),
                F.struct(
                    F.lit("new").alias("side"), F.col("n_new").alias("n")
                ),
            )
        ).alias("p")
    ).select("p.side", "p.n")
