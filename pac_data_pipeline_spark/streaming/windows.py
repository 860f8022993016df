"""Event-time window analytics — batch and Structured Streaming.

The batch variants (`F.window` over a static DataFrame) are
SQL-checkable against the DuckDB oracle; the streaming variant runs
the same logical plan through ``readStream`` with a watermark, so
late-data semantics are real (SURVEY §2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pac_data_pipeline_spark.sources.readers import normalized_events

#: sf_dir → probed events schema (the layout is fixed per dir; the
#: probe is an extra driver-side footer read per streaming query
#: otherwise).
_EVENTS_SCHEMA_CACHE: dict = {}


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source ``readStream`` over the events parquet with the
    same timestamp normalization as the batch loader
    (readers.normalized_events). The file source requires an
    explicit schema, taken from a static probe scan (cached per
    directory) so both historical testdata layouts
    (TIMESTAMP(NANOS)-as-long and TIMESTAMP(MICROS) NTZ) stream
    identically as TimestampType event time."""

    def scan() -> DataFrame:
        schema = _EVENTS_SCHEMA_CACHE.get(sf_dir)
        if schema is None:
            schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
            _EVENTS_SCHEMA_CACHE[sf_dir] = schema
        return (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )

    return normalized_events(spark, scan)


def tumbling_window_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time windows: count + sum per (window,
    event_type). Map-side partial aggregation applies — the shuffle
    carries one row per (window, type) per partition."""
    return (
        events.filter(F.col("ts").isNotNull())
        .groupBy(F.window("ts", width), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd'T'HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_window_agg(
    events: DataFrame, width: str = "1 hour", slide: str = "15 minutes"
) -> DataFrame:
    """Sliding windows: each event lands in width/slide windows
    (Spark explodes window instances before the aggregation)."""
    return (
        events.filter(F.col("ts").isNotNull())
        .groupBy(F.window("ts", width, slide))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd'T'HH:mm:ss").alias(
                "window_start"
            ),
            "n_events",
            "total_value",
        )
    )


def sessionize_batch(
    events: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Batch sessionization: per-user sessions split at inactivity
    gaps > ``gap_minutes`` — lag + cumulative-sum-of-breaks, the
    classic two-window formulation. One shuffle on user_id; both
    windows share the partitioning so the sort is reused. Null
    timestamps carry no event-time and are dropped (they would
    otherwise sort first and silently merge into session 0)."""
    events = events.filter(F.col("ts").isNotNull())
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w_user)
    is_break = F.when(gap > gap_minutes * 60, 1).otherwise(0)
    with_session = events.withColumn(
        "session_id",
        F.sum(is_break).over(
            w_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        with_session.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd'T'HH:mm:ss").alias(
                "session_start"
            ),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )


def session_window_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native ``F.session_window`` sessionization — Spark's built-in
    gap-window operator, usable identically in batch and streaming.

    Boundary semantics differ from :func:`sessionize_batch`: windows
    are half-open ``[ts, ts+gap)``, so an event exactly ``gap`` after
    the previous one starts a NEW session (the lag formulation breaks
    only when the gap is exceeded strictly). The oracle encodes the
    ``>=`` break.

    One shuffle on (user_id, merged window); partial aggregation
    applies before the exchange like any hash agg."""
    return (
        events.filter(F.col("ts").isNotNull())
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd'T'HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "session_value",
        )
    )


def session_stats_per_user(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-user session summary: session count + event count."""
    sessions = sessionize_batch(events, gap_minutes)
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    )


def run_streaming_tumbling(
    spark: SparkSession,
    sf_dir: str,
    width: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "stream_tumbling",
    state_partitions: int | None = 8,
) -> DataFrame:
    """Structured Streaming variant of :func:`tumbling_window_agg`:
    file-source readStream over the events parquet, event-time
    watermark bounding state, complete-mode memory sink, driven to
    completion with processAllAvailable (availableNow semantics for
    tests). Returns the sink table.

    In production the source is Kafka and the sink is a parquet/
    Delta writeStream with checkpointing; the transformation is
    byte-identical."""
    events = events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd'T'HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    # state partitions track aggregate-key cardinality (windows ×
    # types here), not the batch shuffle default — see
    # stateful.run_streaming_sessions for the measured rationale.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        query = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(query_name)
            .start()
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return spark.table(query_name)


def run_streaming_sliding(
    spark: SparkSession,
    sf_dir: str,
    width: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
    query_name: str = "stream_sliding",
    state_partitions: int | None = 8,
) -> DataFrame:
    """Structured Streaming variant of :func:`sliding_window_agg`:
    each event lands in width/slide overlapping window instances
    (state holds width/slide × more keys than tumbling — the
    watermark is what keeps that bounded). Complete-mode memory sink
    driven to completion, so on bounded input the result equals the
    batch sliding aggregation and shares its oracle."""
    events = events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd'T'HH:mm:ss").alias(
                "window_start"
            ),
            "n_events",
            "total_value",
        )
    )
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        query = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(query_name)
            .start()
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return spark.table(query_name)
