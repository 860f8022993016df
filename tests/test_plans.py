"""Physical-plan assertions: lock in the scale-critical properties
(broadcast joins for fixed dims, predicate pushdown into the parquet
scan, JVM-only hot paths, map-side partial aggregation). A
regression here means a 100 TB run got slower even though results
are still correct — exactly the class of bug a correctness gate
can't see."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pac_data_pipeline_spark.ext.text import bpe_train
from pac_data_pipeline_spark.ext.wordpiece import wordpiece_train
from pac_data_pipeline_spark.plans.analytics import (
    local_supplier_volume,
    revenue_forecast,
    shipping_priority,
)
from pac_data_pipeline_spark.plans.pipelines import party_rollup_pipeline

SF = "/root/testdata/sf0.001"


def plan(df, mode: str = "formatted") -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def test_fixed_dims_broadcast_in_q5(spark):
    p = plan(local_supplier_volume(spark, SF))
    assert "BroadcastHashJoin" in p, p
    # the lineitem fact side must NOT be the build side of any
    # broadcast: no BroadcastExchange directly over the lineitem scan
    for section in p.split("\n\n"):
        if "BroadcastExchange" in section and "lineitem" in section.lower():
            pytest.fail("fact table broadcast!\n" + p)


def test_supplier_dim_broadcast_in_flagship(spark):
    assert "BroadcastHashJoin" in plan(party_rollup_pipeline(spark, SF))


def test_filters_pushed_to_scan_q6(spark):
    p = plan(revenue_forecast(spark, SF))
    assert "PushedFilters: [" in p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    # the range + quantity predicates reach the parquet reader
    assert any("l_shipdate" in ln for ln in pushed), p
    assert any("l_quantity" in ln for ln in pushed), p


def test_column_pruning_q6(spark):
    p = plan(revenue_forecast(spark, SF))
    schema_lines = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert schema_lines, p
    # only the 4 referenced columns are read from the 11-column table
    assert "l_returnflag" not in schema_lines[0]
    assert "l_orderkey" not in schema_lines[0]


def test_no_python_eval_in_core_queries(spark):
    """Reference-parity queries must stay inside the JVM — a Python
    UDF sneaking into a hot path is a 10-100x regression at scale."""
    for df in (
        party_rollup_pipeline(spark, SF),
        shipping_priority(spark, SF),
        local_supplier_volume(spark, SF),
    ):
        p = plan(df)
        assert "BatchEvalPython" not in p, p
        assert "ArrowEvalPython" not in p, p


def test_partial_aggregation_before_shuffle(spark):
    """groupBy sum must run partial (map-side) + final hash agg —
    the shuffle carries one row per key per partition, not the raw
    data."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.groupBy("l_returnflag").agg(F.sum("l_extendedprice"))
    p = plan(df)
    assert p.count("HashAggregate") >= 2, p
    assert "hashpartitioning(l_returnflag" in p, p


def _sql_executions(spark) -> set[int]:
    """Ids of every SQL execution the session's status store holds
    (each action is one execution; AQE's per-stage jobs share their
    action's id)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next().executionId())
    return ids


@pytest.mark.parametrize(
    "train", [bpe_train, wordpiece_train], ids=lambda f: f.__name__
)
def test_merge_training_is_one_round_trip(spark, train):
    """BPE and WordPiece training collect the corpus vocabulary once
    and run every merge round on the driver: exactly ONE SQL
    execution whatever ``n_merges`` is — a per-round pair aggregate,
    argmax collect or vocab checkpoint would add executions that
    grow with the round count."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for n_merges in (1, 8):
        before = _sql_executions(spark)
        merges = train(docs, n_merges=n_merges)
        assert len(_sql_executions(spark) - before) == 1, n_merges
        assert merges.count() == n_merges


def test_topk_uses_take_ordered(spark):
    """orderBy().limit(k) must compile to TakeOrderedAndProject
    (per-partition heaps), never a global Sort."""
    p = plan(shipping_priority(spark, SF), mode="simple")
    assert "TakeOrderedAndProject" in p, p


def test_snowflake_pipeline_has_no_global_window(spark):
    """The upload pipeline must not serialize into a single-partition
    window Exchange — batch/shard assignment is orderless. The only
    Exchange allowed is the dedup's hash partitioning on the key."""
    from pac_data_pipeline_spark.plans.pipelines import snowflake_batch_pipeline

    p = plan(snowflake_batch_pipeline(spark, SF))
    assert "SinglePartition" not in p, p
    assert "rangepartitioning" not in p.lower(), p


def test_partition_batch_id_is_shuffle_free(spark):
    """with_partition_batch_id adds no Exchange at all — every task
    numbers its own rows."""
    from pac_data_pipeline_spark.sinks.documents import with_partition_batch_id

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    p = plan(with_partition_batch_id(li, 1000))
    assert "Exchange" not in p, p


def test_range_join_is_equi_join_not_nested_loop(spark):
    """The binned range join must plan as a hash/sort-merge
    equi-join on the quantized bin — never a nested-loop or
    cartesian product, which is what a raw BETWEEN join becomes."""
    import __spark_entry__ as entry

    p = plan(entry.queries()["h_range_join"](spark, SF))
    assert "NestedLoop" not in p, p
    assert "Cartesian" not in p, p
    assert "Join" in p, p


def test_asof_nearest_single_window_shuffle(spark):
    """Nearest-direction as-of: both carries share one window
    Exchange — the differing tie-orders cost a second in-partition
    SORT pass, never a second shuffle or a range join. Exchanges =
    purchase pre-agg + the window partitioning, nothing more."""
    import __spark_entry__ as entry

    p = plan(entry.queries()["h_asof_nearest"](spark, SF))
    assert "NestedLoop" not in p, p
    assert p.count("Exchange (") <= 2, p
    assert p.count("Window (") == 2, p  # back + fwd over same keys


def test_logfreq_vocab_broadcasts(spark):
    """The token-frequency table joins back by broadcast — the
    exploded corpus stream must not shuffle on the (skewed) token."""
    import __spark_entry__ as entry

    p = plan(entry.queries()["x_logfreq_score"](spark, SF))
    assert "BroadcastHashJoin" in p, p


def test_partitioned_readback_prunes_partitions(spark, tmp_path):
    """The year filter on a hive-partitioned layout must become a
    PartitionFilter (directory pruning), not a row-level Filter."""
    from pac_data_pipeline_spark.plans.pipelines import (
        partitioned_layout_pipeline,
    )

    df = partitioned_layout_pipeline(
        spark, "/root/testdata/sf0.001", year=1997,
        base_dir=str(tmp_path / "by_year"),
    )
    p = plan(df)
    assert "PartitionFilters" in p
    # the o_year predicate lives in PartitionFilters, and the
    # pruned scan does not read o_year as a data column
    pf_line = [ln for ln in p.splitlines() if "PartitionFilters" in ln][0]
    assert "o_year" in pf_line


def test_chunk_dedup_exactly_two_exchanges(spark):
    """Chunk dedup budget: one shuffle on the chunk text (first-
    occurrence window) + one back on the doc id (reassembly) — the
    same volume as document-level exact dedup, and nothing else."""
    import __spark_entry__ as entry

    p = plan(entry.q_x_chunk_dedup(spark, SF), "simple")
    n_exchanges = p.count("Exchange hashpartitioning")
    assert n_exchanges == 2, p
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_dq_fk_probe_uses_broadcast_anti_join(spark):
    import __spark_entry__ as entry

    p = plan(entry.q_x_dq_checks(spark, SF))
    assert "LeftAnti" in p, p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, p


def test_h18_aggregates_before_join(spark):
    """The HAVING aggregate must run below the joins so only
    qualifying orderkeys reach the wide rows."""
    import __spark_entry__ as entry

    p = plan(entry.q_h18_large_orders(spark, SF), "simple")
    # in the plan tree, the aggregate over lineitem appears deeper
    # than (after, textually) the join operators that consume it
    agg_pos = p.find("l_quantity")
    join_pos = p.find("Join")
    assert agg_pos != -1 and join_pos != -1 and join_pos < agg_pos, p


def test_domain_mix_broadcasts_thresholds(spark):
    import __spark_entry__ as entry

    p = plan(entry.q_x_domain_mix(spark, SF))
    assert "BroadcastHashJoin" in p, p


def test_min_by_is_single_shuffle_hash_agg(spark):
    import __spark_entry__ as entry

    p = plan(entry.q_h_min_by(spark, SF), "simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Window" not in p, p
    # partial + final aggregate nodes straddle the exchange (min_by
    # over a struct ordering plans as SortAggregate, still two-phase)
    assert p.count("Aggregate") >= 2, p


def test_weighted_sample_is_take_ordered(spark):
    """Efraimidis–Spirakis top-k must plan as TakeOrderedAndProject
    (per-partition heaps), never a global sort of the corpus."""
    import __spark_entry__ as entry

    df = entry.queries()["x_weighted_sample"](spark, SF)
    p = plan(df, "simple")
    assert "TakeOrderedAndProject" in p, p


def test_interval_overlap_join_is_equi_join(spark):
    """Interval × interval overlap must be the binned equi-join,
    never a nested-loop/cartesian product."""
    import __spark_entry__ as entry

    df = entry.queries()["x_interval_join"](spark, SF)
    p = plan(df, "simple")
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p, p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    """Spark's runtime bloom-filter join (on by default in 4.x)
    builds a bloom filter from the filtered dimension side and
    applies might_contain on the fact scan — rows that can't join
    die before the shuffle. At 100 TB the default size thresholds
    (creation ≤ 10 MB build side, application ≥ 10 GB scan) make
    this fire on exactly the joins that need it; locally we lower
    the application threshold to prove the plan shape is available
    and uncompromised by our session conf."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert (
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
            == "true"
        )
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        o = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        p = plan(j)
        assert "bloom_filter_agg" in p, p
        # and it feeds the probe side, not just a dangling aggregate
        assert "might_contain" in p.lower() or "bloomFilter" in p, p
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_no_scale_antipatterns_across_registry(spark):
    """Sweep EVERY registered query's plan for scale anti-patterns:
    row-at-a-time Python eval, non-broadcast cartesian products,
    unwhitelisted broadcast-nested-loop joins, and single-partition
    windows. The sweep logic and whitelists live in
    ``tools/plan_sweep.py`` (single source of truth — run that tool
    standalone, ~1 min, after every registry-touching commit; this
    test enforces the same gate in CI)."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from plan_sweep import sweep

    bad = sweep(spark, SF)
    assert not bad, bad
