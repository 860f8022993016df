"""Table profiling: per-column nulls, cardinality, and value range
in one scan.

The reference eyeballs frames with ``df.head()`` / ``df.info()``
(pac_data_processor.py:381 dry-run preview); this is that idea as a
real operator — the data-quality report every ingest pipeline runs
before trusting a new drop.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pac_data_pipeline_spark.session import ensure_parallelism


def profile_columns(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """One row per column: total rows, null count, distinct count,
    min/max (as strings, so heterogeneous column types stack into
    one frame).

    ONE pass over the table: every metric is an aggregate in a
    single ``agg()`` — Catalyst plans the multi-column distinct via
    its Expand strategy (one replicated stream per distinct
    aggregate), so the table is read once, not once per column. The
    1-row wide result is then unpivoted driver-free with
    explode(array(structs)).

    ``exact_distinct=False`` swaps in ``approx_count_distinct``
    (HLL): at 100 TB the exact multi-distinct Expand multiplies the
    shuffle by the column count, while sketches keep one combinable
    row per partition — flip it for production profiling, keep
    exact for differential testing.
    """
    cols = list(cols) if cols is not None else list(df.columns)
    # the exact multi-distinct Expand multiplies rows by |cols|+1
    # before the partial aggregate — spread a small-split scan over
    # the cores first (no-op when splits already ≥ cores)
    df = ensure_parallelism(df)
    distinct = (
        F.count_distinct if exact_distinct else F.approx_count_distinct
    )
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"__rows_{c}"),
            # coalesce: a null COUNT on empty input must read as 0
            F.coalesce(
                F.sum(F.col(c).isNull().cast("long")), F.lit(0)
            ).alias(f"__nulls_{c}"),
            distinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(f"__rows_{c}").alias("n_rows"),
                        F.col(f"__nulls_{c}").alias("n_null"),
                        F.col(f"__nd_{c}").alias("n_distinct"),
                        F.col(f"__min_{c}").alias("min_value"),
                        F.col(f"__max_{c}").alias("max_value"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.*")
