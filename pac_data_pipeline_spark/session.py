"""SparkSession factory and runtime tuning.

Local testing runs ``local[N]`` (one JVM); at production scale the
same confs matter, just set by the submitter: AQE for runtime
re-planning (shuffle-partition coalescing + skew-join splitting),
UTC session timezone so results are engine-independent, Arrow for
any pandas exchange.

Scale notes (100 TB target):
* ``spark.sql.shuffle.partitions`` here defaults to the local core
  count; on a cluster start near 2-3x total executor cores and let
  AQE coalesce down — never leave the 200 default.
* ``spark.sql.files.maxPartitionBytes`` (128 MB default) governs scan
  parallelism; with 100 TB of parquet that's ~800k input splits,
  which is fine — do NOT repartition after scan unless a later
  stage needs a specific key distribution.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Confs that must be set before the JVM starts.
STARTUP_CONF = {
    # local mode's default 1g driver heap is shared by every task
    # thread — at 32 threads that's ~30 MB/task, which fits sf0.1
    # but OOMs the similarity-join family on the sf≈1 scaling clone
    # (measured round 11). Size the single local JVM like the
    # executor fleet it stands in for; a cluster submitter sets
    # spark.executor.memory instead and this conf is irrelevant.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.driver.host": "127.0.0.1",
}

#: Confs that are runtime-settable on an existing session (e.g. the
#: driver's); applied by :func:`tune_session` before running queries.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    # testdata events.parquet carries TIMESTAMP(NANOS); Spark reads it
    # as raw-nanos long under this flag and readers.load_events converts.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def get_spark(
    app_name: str = "pac-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a session tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or all
    cores). ``shuffle_partitions`` defaults to the core count —
    right-sized for local mode; a cluster submitter overrides it.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    conf = dict(STARTUP_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune_session(spark)
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-created session.

    Used when the harness hands us its own SparkSession: oracle
    comparisons need UTC timestamps, and the big aggregations want
    AQE. Confs that can't be changed at runtime are skipped.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # immutable conf on this build — keep going
            pass
    # an externally-created session often carries the 200-partition
    # default — wasteful fan-out at local scale (AQE coalesces, but
    # each query still plans 200 tasks). Right-size to the actual
    # parallelism unless the caller already tuned it down.
    try:
        cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
        par = spark.sparkContext.defaultParallelism
        if cur == 200 and par < 200:
            spark.conf.set("spark.sql.shuffle.partitions", str(par))
    except Exception:
        pass
    return spark

def local_table(spark: SparkSession, rows, schema: str):
    """Literal dimension table that executes INSIDE the JVM.

    ``spark.createDataFrame(list, schema)`` builds a *pickled Python
    RDD* sliced into up to ``defaultParallelism`` partitions — every
    job that touches the frame (each broadcast build, each eager
    checkpoint, the final sink) launches one Python worker per slice
    just to unpickle a handful of literal rows. Measured round 11:
    32 zero-CPU tasks of ~0.2-0.4 s each, PER CONSUMING JOB, charged
    to whichever query owns the seed/config/codebook table —
    multi-second overhead on x_wordpiece_*, x_snm_dedup,
    x_lsh_tuning, x_retrieval_eval and the IVF/PQ tier
    (OPTIMIZATION_r11.md, guide §4: eliminate the Python boundary).

    Routing the same rows through pandas + Arrow hands the JVM the
    serialized Arrow batches up front: execution is a one-partition
    JVM scan, no Python workers, identical rows and schema. At
    production scale these tables are broadcast dimension inputs, so
    removing a per-executor Python round trip is the same win there.
    """
    rows = list(rows)
    if not rows:  # Arrow path needs >=1 row to infer pandas blocks
        return spark.createDataFrame([], schema)
    import pandas as pd

    # the Arrow path still slices into up to defaultParallelism
    # partitions; these are literal dim tables (dozens of rows), so
    # one JVM task is the right shape — coalesce is shuffle-free.
    return spark.createDataFrame(pd.DataFrame(rows), schema=schema).coalesce(1)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the cluster's parallelism when
    the scan produced fewer splits than cores — shingle/hash stages
    are compute-bound, and a 3-split file would idle 29 of 32 local
    cores. No-op (and no shuffle) when splits already ≥ cores, which
    is the normal state at production scale."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
