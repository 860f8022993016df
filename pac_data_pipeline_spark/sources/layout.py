"""Warehouse layout policy — the storage-side half of the 100 TB
design.

A table's physical layout decides which query costs disappear before
any optimizer runs: partition columns turn predicates into directory
pruning, bucketing turns repeated equi-joins/aggregations into
shuffle-free plans, and file sizing bounds scan-task skew. This
module makes the per-table policy explicit and executable instead of
folklore.

Policy rationale per table (star schema, TESTDATA.md):
* lineitem / orders — bucketed on the orderkey: the fact⋈fact join
  on orderkey is the single biggest shuffle in the workload (every
  §3.3-shaped rollup pays it); equal bucket counts delete it.
  Sorted within buckets for merge-join without an extra sort.
* events — partitioned by event date: every windowed/streaming query
  is time-bounded, so date predicates prune directories; within a
  day, rows cluster by arrival which matches the access pattern.
* documents / embeddings — plain columnar with bounded file size:
  dedup/similarity scans are full-corpus by nature, so partitioning
  buys nothing; what matters is parallelism (file count ≥ cores) and
  column pruning (never read `text`/`embedding` unless used).
* dims (region nation customer supplier part) — single files; they
  broadcast or AQE-broadcast anyway.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pac_data_pipeline_spark.session import ensure_parallelism
from pac_data_pipeline_spark.sources.readers import (
    load_events,
    save_bucketed,
    scan_parquet,
)


@dataclass(frozen=True)
class TableLayout:
    partition_cols: tuple[str, ...] = ()
    bucket_cols: tuple[str, ...] = ()
    n_buckets: int = 0
    sort_cols: tuple[str, ...] = ()
    derive: dict = field(default_factory=dict)  # col -> Column builder


WAREHOUSE_LAYOUTS: dict[str, TableLayout] = {
    "lineitem": TableLayout(
        bucket_cols=("l_orderkey",), n_buckets=32, sort_cols=("l_orderkey",)
    ),
    "orders": TableLayout(
        bucket_cols=("o_orderkey",), n_buckets=32, sort_cols=("o_orderkey",)
    ),
    "events": TableLayout(
        partition_cols=("event_date",),
        derive={"event_date": lambda df: F.to_date("ts")},
    ),
    "documents": TableLayout(),
    "embeddings": TableLayout(),
}


def materialize_warehouse(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    tables: tuple[str, ...] = ("lineitem", "orders", "events"),
    bucket_scale: int = 1,
) -> dict[str, str]:
    """Write the given tables under their declared layouts.

    ``bucket_scale`` multiplies bucket counts (32 suits local tests;
    at 100 TB size buckets so one bucket ≈ a few GB — e.g. 4096 for
    a 10 TB fact). Returns table → path/name."""
    written: dict[str, str] = {}
    for name in tables:
        layout = WAREHOUSE_LAYOUTS.get(name, TableLayout())
        df = (
            load_events(spark, sf_dir)
            if name == "events"
            else scan_parquet(spark, f"{sf_dir}/{name}.parquet")
        )
        for col, builder in layout.derive.items():
            df = df.withColumn(col, builder(df))
        if layout.bucket_cols:
            table_name = f"{name}_w"
            save_bucketed(
                df,
                table_name,
                f"{out_dir}/{name}",
                layout.bucket_cols,
                layout.n_buckets * bucket_scale,
                sort_cols=layout.sort_cols,
            )
            written[name] = table_name
        else:
            writer = df.write.mode("overwrite")
            if layout.partition_cols:
                writer = writer.partitionBy(*layout.partition_cols)
            writer.parquet(f"{out_dir}/{name}")
            written[name] = f"{out_dir}/{name}"
    return written


def read_warehouse_table(
    spark: SparkSession, written: dict[str, str], name: str
) -> DataFrame:
    """Read a materialized table back (bucketed tables via catalog,
    partitioned/plain via path)."""
    ref = written[name]
    if ref.endswith("_w"):
        return spark.table(ref)
    return spark.read.parquet(ref)


def z_order_value(
    cols: tuple[str, ...], bounds_prefix: str = "__b", bits: int = 12
) -> Column:
    """Bit-interleaved Z-curve value over 2+ quantized columns.

    Each column is min-max scaled to ``bits`` bits using bounds
    columns named ``{bounds_prefix}_{col}_min/max`` (joined on
    beforehand — see :func:`write_z_ordered`), then the bits are
    interleaved. Sorting by the result clusters rows so every file's
    bounding box is tight in ALL dimensions at once — multi-column
    min/max data skipping, where a plain sort only prunes its one
    leading column. Pure bit arithmetic, whole-stage codegen."""
    quantized = []
    for c in cols:
        lo = F.col(f"{bounds_prefix}_{c}_min").cast("double")
        hi = F.col(f"{bounds_prefix}_{c}_max").cast("double")
        span = F.nullif(hi - lo, F.lit(0.0))
        scaled = F.coalesce(
            (F.col(c).cast("double") - lo) / span, F.lit(0.0)
        ) * F.lit((1 << bits) - 1)
        quantized.append(F.floor(scaled).cast("long"))
    z = F.lit(0).cast("long")
    n = len(cols)
    for i in range(bits):
        for j, q in enumerate(quantized):
            bit = F.shiftright(q, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def write_z_ordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, ...],
    bits: int = 12,
    n_files: int = 16,
) -> None:
    """Write ``df`` Z-ordered on ``cols`` into ~``n_files`` files.

    One bounds aggregate (1 row, broadcast back — no driver
    collect), Z-value computation scan-side, then
    ``repartitionByRange`` + in-partition sort on the Z-value so
    parquet row-group min/max stats are tight in every clustered
    dimension. The 100 TB payoff is file/row-group skipping for
    queries filtering on ANY subset of the clustered columns —
    verified objectively in tests by reading per-file parquet stats.
    """
    # fan a narrow scan out to the cluster's parallelism before the
    # per-row bit math: a small input that arrives as 1-2 splits
    # would otherwise compute every Z-value (and repartitionByRange's
    # sampling pass over the same plan) on 1-2 cores. At production
    # scale the scan already has thousands of splits and this is a
    # no-op — the check costs one plan conversion, no data movement.
    df = ensure_parallelism(df)
    # ONE bounded 1-row collect (2·|cols| scalars — the tokenizer
    # argmax class of driver fetch), folded into the Z expression as
    # literals. The pre-r11 form attached the bounds row with
    # crossJoin(broadcast(...)): a BroadcastNestedLoopJoin that
    # breaks whole-stage codegen for the per-row bit math AND is
    # evaluated TWICE (repartitionByRange's range-sampling pass
    # re-executes the child subplan) — measured 2×20 s of CPU at
    # sf0.1 against a sub-second aggregate (guide §1.2: per-task
    # work after the job shape is right). Literal bounds constant-
    # fold the spans; both passes stay pure codegen scan stages.
    brow = df.agg(
        *[
            m
            for c in cols
            for m in (
                F.min(c).alias(f"__b_{c}_min"),
                F.max(c).alias(f"__b_{c}_max"),
            )
        ]
    ).collect()[0]
    with_z = df
    for c in cols:
        for m in ("min", "max"):
            with_z = with_z.withColumn(
                f"__b_{c}_{m}",
                F.lit(brow[f"__b_{c}_{m}"]),
            )
    with_z = with_z.withColumn("__z", z_order_value(cols, bits=bits))
    (
        with_z.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *[f"__b_{c}_{m}" for c in cols for m in ("min", "max")])
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_small_files(
    df: DataFrame,
    path: str,
    target_rows_per_file: int,
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Small-file compaction: rewrite into files of
    ~``target_rows_per_file`` rows (optionally range-clustered on
    ``sort_cols`` so min/max stats stay useful). At 100 TB this is
    the maintenance job that keeps scan-task counts sane after
    streaming/CDC ingestion sprays slivers; maxRecordsPerFile bounds
    the upper end, the repartition bounds the file count."""
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    out = (
        df.repartitionByRange(n_files, *sort_cols)
        if sort_cols
        else df.repartition(n_files)
    )
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
        .parquet(path)
    )
