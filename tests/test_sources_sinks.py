"""Source/sink scale behavior: partitioned parquet layout enables
partition pruning on read-back (the K4 'nested path' tree as a
directory layout), CSV scan round-trips schema, and the dry-run
plan preview works without side effects."""

from __future__ import annotations

from pyspark.sql import functions as F

from pac_data_pipeline_spark.sinks.documents import dry_run, write_parquet
from pac_data_pipeline_spark.sources.readers import scan_csv, table_exists

SF = "/root/testdata/sf0.001"


def plan(df, mode: str = "formatted") -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def test_partitioned_write_prunes_on_readback(spark, tmp_path):
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey",
        "o_totalprice",
        F.year("o_orderdate").cast("int").alias("cycle"),
    )
    out = str(tmp_path / "by_cycle")
    write_parquet(orders, out, partition_by=("cycle",))

    back = spark.read.parquet(out).filter(F.col("cycle") == 1996)
    p = plan(back)
    # the cycle predicate must prune directories, not scan+filter
    assert "PartitionFilters" in p, p
    pf_line = next(ln for ln in p.splitlines() if "PartitionFilters" in ln)
    assert "cycle" in pf_line, p
    assert back.count() == orders.filter(F.col("cycle") == 1996).count()


def test_csv_scan_roundtrip(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, "a b", 1.5), (2, " c ", None)],
        "id long, name string, amount double",
    )
    out = str(tmp_path / "csv")
    src.write.option("header", True).mode("overwrite").csv(out)
    back = scan_csv(spark, out)
    assert set(back.columns) == {"id", "name", "amount"}
    assert back.count() == 2
    # inferSchema recovers numeric types
    dtypes = dict(back.dtypes)
    assert dtypes["id"] in ("int", "bigint")
    assert dtypes["amount"] == "double"


def test_dry_run_no_side_effects(spark):
    df = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey")
    info = dry_run(df, n=3)
    assert len(info["sample"]) == 3
    assert info["count"] == df.count()
    assert "Physical Plan" in info["plan"]


def test_table_exists_probe(spark):
    spark.read.parquet(f"{SF}/region.parquet").createOrReplaceTempView(
        "probe_region"
    )
    assert table_exists(spark, "probe_region")
    assert not table_exists(spark, "no_such_table")


def test_verify_write_readback(spark, tmp_path):
    from pac_data_pipeline_spark.sinks.documents import verify_write

    df = spark.read.parquet(f"{SF}/region.parquet")
    out = str(tmp_path / "verify")
    write_parquet(df, out)
    res = verify_write(spark, out, df.count())
    assert res["ok"] and res["actual"] == res["expected"]
    assert not verify_write(spark, out, df.count() + 1)["ok"]


def test_docstore_datasource_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from pac_data_pipeline_spark.sources.docstore import register_docstore

    register_docstore(spark)
    out = str(tmp_path / "col")
    df = spark.createDataFrame(
        [("k1", '{"a": 1}'), ("k2", '{"a": 2}'), ("k3", None)],
        "doc_key string, payload string",
    )
    df.write.format("pac_docstore").mode("overwrite").save(out)
    import os

    assert sorted(os.listdir(out)) == ["k1.json", "k2.json", "k3.json"]
    back = (
        spark.read.format("pac_docstore").option("shards", "2").load(out)
    )
    rows = {r.doc_key: r.payload for r in back.collect()}
    assert rows == {"k1": '{"a": 1}', "k2": '{"a": 2}', "k3": "null"}
    # keyed overwrite: writing a doc with an existing key replaces it
    spark.createDataFrame(
        [("k1", '{"a": 99}')], "doc_key string, payload string"
    ).write.format("pac_docstore").mode("overwrite").save(out)
    upd = {
        r.doc_key: r.payload
        for r in spark.read.format("pac_docstore").load(out).collect()
    }
    assert upd["k1"] == '{"a": 99}'
    # json payloads parse back through the engine
    parsed = (
        spark.read.format("pac_docstore").load(out)
        .filter(F.col("doc_key") != "k3")
        .select(F.from_json("payload", "a long").alias("d"))
        .select("d.a")
    )
    assert {r.a for r in parsed.collect()} == {99, 2}


def test_jdbc_derby_roundtrip_with_pushdown(spark, tmp_path):
    """scan_jdbc against embedded Derby: partitioned fetch honors
    numPartitions; the filter is pushed INTO the database."""
    from pyspark.sql import functions as F

    from pac_data_pipeline_spark.sources.readers import scan_jdbc

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("g")
    )
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "t")
        .mode("overwrite")
        .save()
    )
    back = scan_jdbc(
        spark, url, table="t",
        partition_column="k", num_partitions=4,
        lower_bound=0, upper_bound=100,
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 100
    filtered = back.filter(F.col("g") == 2)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "EqualTo" in plan
    assert filtered.count() == 20


def test_nested_path_records_money_signs_and_plain_decimal(spark):
    """money() renders canonical two-decimal JSON numbers for
    negative, zero, sub-dollar, and >1e7 amounts — the signed path
    (floor-of-signed-division would emit '-1.-50') and the
    Double.toString scientific-notation trap in one pin."""
    from pac_data_pipeline_spark.sinks.documents import nested_path_records

    rows = [
        ("b", 2024, -1.5, 0.0),
        ("b", 2026, -0.07, 63263477.3),
        ("b", 2028, 12.34, -12345678.9),
    ]
    df = spark.createDataFrame(
        rows, "brand string, cycle int, democrat_total double,"
        " republican_total double"
    )
    out = {r.path: r.payload for r in nested_path_records(df).collect()}
    assert out["brands/b/records/2024/pac"] == (
        '{"democrat":-1.50,"republican":0.00}'
    )
    assert out["brands/b/records/2026/pac"] == (
        '{"democrat":-0.07,"republican":63263477.30}'
    )
    assert out["brands/b/records/2028/pac"] == (
        '{"democrat":12.34,"republican":-12345678.90}'
    )


def test_event_ts_layouts_load_identically_batch_and_stream(spark, tmp_path):
    """Both on-disk events layouts — TIMESTAMP(NANOS), read as a raw
    long, and TIMESTAMP(MICROS) with isAdjustedToUTC=false, read as
    TIMESTAMP_NTZ — load as the same TimestampType instants through
    the batch loader and the streaming loader."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    from pac_data_pipeline_spark.sources.readers import load_events
    from pac_data_pipeline_spark.streaming.windows import events_stream

    epoch = dt.datetime(1970, 1, 1)
    wall = [
        dt.datetime(2024, 1, 1, 0, 0, 0, 1),
        dt.datetime(2024, 6, 30, 23, 59, 59, 999999),
        dt.datetime(1999, 12, 31, 12, 0),
    ]
    micros = dt.timedelta(microseconds=1)
    want = [(i, (w - epoch) // micros) for i, w in enumerate(wall)]
    got = []
    for unit in ("ns", "us"):
        sf_dir = tmp_path / unit
        sf_dir.mkdir()
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(range(len(wall)), pa.int64()),
                    "ts": pa.array(wall, pa.timestamp(unit)),
                    "value": pa.array([1.0] * len(wall)),
                }
            ),
            str(sf_dir / "events.parquet"),
            version="2.6",
        )
        written = pq.read_schema(sf_dir / "events.parquet").field("ts")
        assert written.type == pa.timestamp(unit)

        batch = load_events(spark, str(sf_dir))
        stream = events_stream(spark, str(sf_dir))
        name = f"t_event_ts_{unit}"
        stream.writeStream.format("memory").queryName(name).trigger(
            availableNow=True
        ).start().awaitTermination()
        for df in (batch, spark.table(name)):
            assert isinstance(df.schema["ts"].dataType, TimestampType)
            rows = df.select("event_id", F.unix_micros("ts")).collect()
            got.append(sorted(map(tuple, rows)))
    assert got == [want] * 4
