"""Sources: parquet / CSV / JDBC scans and catalog helpers.

Covers the reference's source surface (SURVEY §2.1):
  S1 CSV scan (header, inferred types)    — reference pac_data_processor.py:19
  S2/S3 SQL source                        — pac_snowflake_pipeline.py:38-69
  S4 external RDBMS scan                  — index_align_to_firebase.py:127
  S6 schema introspection                 — index_align_to_firebase.py:103-116
  S7 existence probe                      — test_index_align.py:180-184

Spark-first mapping: columnar parquet scans with predicate pushdown
and column pruning are the default path; external SQL systems come
in through the JDBC source (parallelized via partitionColumn), and
in-engine SQL goes through Catalyst over registered views.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

#: Canonical table set of the synthetic star schema (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan. Catalyst pushes filters into row-group /
    page-level skipping and prunes unread columns — the 100 TB path."""
    return spark.read.parquet(path)


def scan_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    infer_schema: bool = True,
    schema=None,
) -> DataFrame:
    """S1: CSV with header and inferred types (reference
    pac_data_processor.py:19). At scale pass an explicit ``schema``
    — inference costs a full extra pass over the data."""
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", infer_schema)
    return reader.csv(path)


def scan_jdbc(
    spark: SparkSession,
    url: str,
    query: str | None = None,
    table: str | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound=None,
    upper_bound=None,
    **options,
) -> DataFrame:
    """S2/S4: external SQL systems (Snowflake / MySQL in the
    reference). The source system still parses and filters its SQL;
    Spark parallelizes the fetch when ``partition_column`` bounds are
    given — essential beyond toy row counts (a single-cursor fetch,
    as the reference does, is a one-thread bottleneck)."""
    reader = spark.read.format("jdbc").option("url", url)
    if query is not None:
        reader = reader.option("query", query)
    elif table is not None:
        reader = reader.option("dbtable", table)
    else:
        raise ValueError("need query or table")
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def normalized_events(
    spark: SparkSession, scan: Callable[[], DataFrame]
) -> DataFrame:
    """Run ``scan`` (a batch or streaming read of the events parquet)
    and normalize its ``ts`` column — the one place both event
    loaders share.

    The synthetic ``events`` table has shipped in two layouts:
    TIMESTAMP(NANOS) (arrives as a raw nanosecond long under
    ``spark.sql.legacy.parquet.nanosAsLong``, set here before the
    scan resolves its schema) and TIMESTAMP(MICROS) with
    ``isAdjustedToUTC=false`` (arrives as TIMESTAMP_NTZ). Both are
    normalized to session-local TimestampType — the session timezone
    is pinned to UTC (session.py), so the NTZ cast is wall-clock
    exact — and downstream operators can rely on ``ts.cast("long")``
    for epoch-second arithmetic."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = scan()
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events scan with timestamp normalization
    (:func:`normalized_events`)."""
    return normalized_events(
        spark, lambda: scan_parquet(spark, f"{sf_dir}/events.parquet")
    )


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load the star-schema parquet tables from a scale-factor dir."""
    return {
        n: load_events(spark, sf_dir) if n == "events"
        else scan_parquet(spark, f"{sf_dir}/{n}.parquet")
        for n in names
    }


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register temp views so ``spark.sql`` queries go through
    Catalyst (parse → analyze → optimize → physical plan)."""
    for n, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(n)


def save_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int,
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Persist a bucketed (and optionally sorted) table.

    This is the 100 TB answer to repeated equi-joins/aggregations on
    the same key: both sides bucketed on the join key with equal
    bucket counts co-locate matching rows, deleting the shuffle from
    every subsequent join (asserted in tests/test_plans.py). The
    reference re-sorts and re-groups the same keys per run
    (pac_snowflake_realtime.py:94, :250) — bucketing amortizes that
    across runs."""
    writer = df.write.mode(mode).option("path", path).bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def table_exists(spark: SparkSession, name: str) -> bool:
    """S7 existence probe (reference ``SHOW TABLES LIKE``)."""
    if spark.catalog.tableExists(name):
        return True
    return any(t.name == name for t in spark.catalog.listTables())


def describe_schema(df: DataFrame) -> list[tuple[str, str]]:
    """S6 schema introspection (reference ``SHOW COLUMNS``)."""
    return df.dtypes
