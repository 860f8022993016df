"""The workloads: their sizes, steps and output checks.

A step's ``run`` is the timed region: it calls the package's public
layer functions and ends with the benchmark's own action (a write or
a collect), so the lazily built plan executes inside it. ``check``
runs untimed afterwards and returns a problem string or ``None``.
Every step writes under a fresh per-pass directory that the runner
deletes outside the timed region.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Any, Callable

import pandas as pd
import pyarrow.parquet as pq

from check import Canon

@dataclass
class Step:
    name: str
    run: Callable[[Any, str], Any]
    check: Callable[[Any, str, Any], str | None]
    #: tables the step reads (counted for rows_per_s)
    inputs: tuple[str, ...]
    #: registry oracle the check compares against, computed before set-up
    oracle: str | None = None


@dataclass
class Workload:
    name: str
    #: size of each table relative to the learned fixture (sf0.1)
    scale: dict[str, float]
    steps: list[Step] = field(default_factory=list)
    #: set-up work before the warm pass (connectors, source staging)
    prepare: Callable[[Any], None] | None = None


class Ctx:
    """What a step sees: the session, the generated inputs, the
    expected results, and the tracer (``None`` when untraced)."""

    def __init__(self, spark, data: str, rows: dict, con, tracer=None):
        self.spark = spark
        self.data = data
        self.rows = rows
        self.con = con
        self.tracer = tracer
        self.expected: dict[str, Canon] = {}
        self.counters: dict[str, float] = {}
        self.jdbc_url: str | None = None

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else nullcontext()

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value

    def oracle(self, name: str) -> Canon:
        if name not in self.expected:
            import __spark_entry__ as entry

            self.expected[name] = Canon(self.con.execute(entry.oracle_sql()[name]).fetchdf())
        return self.expected[name]


def _write_parquet(ctx: Ctx, df, path: str) -> None:
    with ctx.span("action", "action.write_parquet"):
        df.write.mode("overwrite").parquet(path)


def _read_parquet(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _against(ctx: Ctx, oracle: str, got: pd.DataFrame) -> str | None:
    return ctx.oracle(oracle).diff(Canon(got))


# -- pac_upload --------------------------------------------------------------


def _upload_docstore(ctx: Ctx, out: str):
    """csv_report_pipeline → to_doc_records → pac_docstore write →
    read back → verify_write."""
    from pyspark.sql import functions as F

    from pac_data_pipeline_spark.plans import pipelines
    from pac_data_pipeline_spark.sinks import documents

    report = pipelines.csv_report_pipeline(ctx.spark, ctx.data)
    docs = documents.to_doc_records(
        report, collection="pac_orders", id_col="o_orderkey", iso_date_cols=("o_orderdate",)
    )
    store = f"{out}/store"
    expected = len(ctx.oracle("pipe_csv_report").rows)
    t0 = time.perf_counter()
    with ctx.span("sinks", "sinks.pac_docstore.write"):
        docs.select(F.col("document_id").alias("doc_key"), F.col("data").alias("payload")).write.format(
            "pac_docstore"
        ).mode("overwrite").save(store)
    t1 = time.perf_counter()
    verdict = documents.verify_write(ctx.spark, store, expected, fmt="pac_docstore")
    ctx.add("docstore_write_s", t1 - t0)
    ctx.add("docstore_read_s", time.perf_counter() - t1)
    ctx.add("docs_read", verdict["actual"])
    ctx.add("dedup_in", ctx.rows["orders"])
    ctx.add("dedup_kept", verdict["actual"])
    return verdict


def _check_upload_docstore(ctx: Ctx, out: str, verdict) -> str | None:
    files = glob.glob(f"{out}/store/*.json")
    ctx.add("docs_written", len(files))
    if not verdict["ok"]:
        return f"read-back {verdict['actual']} != written {verdict['expected']}"
    rows = []
    for p in files:
        with open(p, encoding="utf-8") as fh:
            d = json.load(fh)
        if os.path.basename(p)[:-5] != str(d["o_orderkey"]):
            return f"document {p} holds order {d['o_orderkey']}"
        rows.append(
            (d["o_orderkey"], d["business_key"], d["amount_category"], round(d["o_totalprice"], 2), d["o_orderstatus"])
        )
    got = pd.DataFrame(rows, columns=["o_orderkey", "business_key", "amount_category", "total", "status"])
    return _against(ctx, "pipe_csv_report", got)


def _snowflake_shards(ctx: Ctx, out: str):
    """snowflake_batch_pipeline (hash shard per row) → partitioned
    write_parquet → verify_write."""
    from pac_data_pipeline_spark.plans import pipelines
    from pac_data_pipeline_spark.sinks import documents

    batch = pipelines.snowflake_batch_pipeline(ctx.spark, ctx.data)
    documents.write_parquet(batch, f"{out}/shards", partition_by=("upload_shard",))
    verdict = documents.verify_write(ctx.spark, f"{out}/shards", len(ctx.oracle("pipe_snowflake_batch").rows))
    ctx.add("dedup_in", ctx.rows["lineitem"])
    ctx.add("dedup_kept", verdict["actual"])
    return verdict


def _check_snowflake_shards(ctx: Ctx, out: str, verdict) -> str | None:
    if not verdict["ok"]:
        return f"read-back {verdict['actual']} != written {verdict['expected']}"
    got = ctx.con.execute(
        f"""SELECT l_orderkey, l_linenumber, upload_shard, data_source, record_type,
                   round(l_extendedprice, 2) AS price, round(l_quantity, 2) AS qty
            FROM read_parquet('{out}/shards/*/*.parquet', hive_partitioning = true)"""
    ).fetchdf()
    return _against(ctx, "pipe_snowflake_batch", got)


def _party_rollup_paths(ctx: Ctx, out: str):
    """party_rollup_pipeline → nested_path_records → write."""
    from pac_data_pipeline_spark.plans import pipelines
    from pac_data_pipeline_spark.sinks import documents

    paths = documents.nested_path_records(pipelines.party_rollup_pipeline(ctx.spark, ctx.data))
    _write_parquet(ctx, paths, f"{out}/paths")


def _check_party_rollup_paths(ctx: Ctx, out: str, _) -> str | None:
    return _against(ctx, "a10_nested_rollup", _read_parquet(f"{out}/paths"))


def _prepare_upload(ctx: Ctx) -> None:
    """Register the ``pac_docstore`` connector, and load the generated
    supplier dimension into an embedded Derby database: the
    index-align path's SQL source."""
    from pac_data_pipeline_spark.sources.docstore import register_docstore

    register_docstore(ctx.spark)
    db = f"{ctx.data}-derby"
    ctx.spark.sparkContext._jvm.System.setProperty("derby.stream.error.file", db + ".log")
    ctx.jdbc_url = f"jdbc:derby:{db};create=true"
    ctx.spark.read.parquet(f"{ctx.data}/supplier.parquet").write.format("jdbc").option(
        "url", ctx.jdbc_url
    ).option("dbtable", "issues").mode("overwrite").save()


def _index_align_keyed(ctx: Ctx, out: str):
    """JDBC scan → schema-agnostic lowercase → keyed_json_tree."""
    from pyspark.sql import functions as F

    from pac_data_pipeline_spark.sinks import documents
    from pac_data_pipeline_spark.sources import readers

    rows = readers.scan_jdbc(ctx.spark, ctx.jdbc_url, table="issues")
    lowered = rows.select(*[F.col(c).alias(c.lower()) for c in rows.columns])
    tree = documents.keyed_json_tree(lowered, id_col="s_suppkey")
    with ctx.span("action", "action.write_text"):
        tree.write.mode("overwrite").text(f"{out}/tree")


def _check_index_align_keyed(ctx: Ctx, out: str, _) -> str | None:
    lines = []
    for p in glob.glob(f"{out}/tree/part-*"):
        with open(p, encoding="utf-8") as fh:
            lines += [ln for ln in fh if ln.strip()]
    if len(lines) != 1:
        return f"{len(lines)} tree documents, expected 1"
    tree = json.loads(lines[0])
    want = ctx.con.execute("SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier").fetchall()
    if len(tree) != len(want):
        return f"tree has {len(tree)} keys, expected {len(want)}"
    for key, name, nation, bal in want:
        doc = json.loads(tree.get(str(key), "null") or "null")
        if doc is None or (doc["s_name"], doc["s_nationkey"], round(doc["s_acctbal"], 2)) != (name, nation, round(bal, 2)):
            return f"supplier {key}: {doc}"
    return None


def _cdc_refresh(ctx: Ctx, out: str):
    """run_streaming_cdc_merge: stream the events through foreachBatch
    latest-per-user + conditional merge; write the final state."""
    from pyspark.sql import functions as F

    from pac_data_pipeline_spark.streaming import cdc

    state = cdc.run_streaming_cdc_merge(ctx.spark, ctx.data)
    _write_parquet(
        ctx,
        state.select(
            "user_id", "value", F.date_format("version_ts", "yyyy-MM-dd'T'HH:mm:ss").alias("version_ts"), "event_id"
        ),
        f"{out}/state",
    )


def _check_cdc_refresh(ctx: Ctx, out: str, _) -> str | None:
    return _against(ctx, "x_stream_cdc", _read_parquet(f"{out}/state"))


# -- corpus_prep -------------------------------------------------------------


def _train_corpus(ctx: Ctx, out: str):
    from pac_data_pipeline_spark.plans import pipelines

    _write_parquet(ctx, pipelines.train_corpus_pipeline(ctx.spark, ctx.data), f"{out}/manifest")


def _check_train_corpus(ctx: Ctx, out: str, _) -> str | None:
    return _against(ctx, "pipe_train_corpus", _read_parquet(f"{out}/manifest"))


#: The near-dup step's MinHash/LSH settings, shared with
#: :func:`minhash_candidates` so both count the same configuration.
MINHASH = {"num_hashes": 64, "shingle_k": 5, "bands": 8, "threshold": 0.5}


def _minhash(ctx: Ctx, out: str):
    from pac_data_pipeline_spark.ext import dedup_text
    from pac_data_pipeline_spark.sources import readers

    docs = readers.scan_parquet(ctx.spark, f"{ctx.data}/documents.parquet")
    _write_parquet(ctx, dedup_text.minhash_near_dup_pairs(docs, **MINHASH), f"{out}/pairs")


def planted_pairs(con) -> set[tuple[int, int]]:
    """Near-dup pairs the generator planted: a text with one ``dup``
    token spliced in, paired with every document holding the text
    without it."""
    by_text: dict[str, list[int]] = {}
    rows = con.execute("SELECT doc_id, text FROM documents").fetchall()
    for doc_id, text in rows:
        by_text.setdefault(text, []).append(doc_id)
    pairs = set()
    for doc_id, text in rows:
        words = text.split(" ")
        for i, w in enumerate(words):
            if w == "dup":
                for other in by_text.get(" ".join(words[:i] + words[i + 1 :]), ()):
                    pairs.add((min(doc_id, other), max(doc_id, other)))
    return pairs


def _check_minhash(ctx: Ctx, out: str, _) -> str | None:
    got = _read_parquet(f"{out}/pairs")
    if len(got) == 0:
        return "no near-dup pairs"
    if ((got["est_jaccard"] < MINHASH["threshold"]) | (got["est_jaccard"] > 1.0)).any():
        return f"estimated jaccard outside [{MINHASH['threshold']}, 1]"
    found = {(min(a, b), max(a, b)) for a, b in zip(got["id_a"], got["id_b"])}
    if len(found) != len(got) or (got["id_a"] == got["id_b"]).any():
        return "duplicate or self pairs"
    planted = ctx.expected.setdefault("planted", planted_pairs(ctx.con))
    recall = len(planted & found) / max(1, len(planted))
    ctx.add("pairs_found", len(found))
    return None if recall >= 0.9 else f"planted near-dup recall {recall:.3f} < 0.9"


def minhash_candidates(ctx: Ctx) -> int:
    """Candidate pairs the LSH banding proposes before verification
    (traced runs only: the denominator of ``ext.pair_precision``)."""
    from pac_data_pipeline_spark.ext import dedup_text
    from pac_data_pipeline_spark.sources import readers

    n, k, bands = MINHASH["num_hashes"], MINHASH["shingle_k"], MINHASH["bands"]
    docs = readers.scan_parquet(ctx.spark, f"{ctx.data}/documents.parquet")
    sigs = dedup_text.minhash_signature(docs, "text", "doc_id", n, k).localCheckpoint()
    return dedup_text.lsh_candidate_pairs(sigs, "doc_id", bands, n // bands).count()


def _tokenize(ctx: Ctx, out: str):
    from pac_data_pipeline_spark.ext import text
    from pac_data_pipeline_spark.sources import readers

    docs = readers.scan_parquet(ctx.spark, f"{ctx.data}/documents.parquet")
    _write_parquet(ctx, text.bpe_encode(docs, text.bpe_train(docs, n_merges=8)), f"{out}/tokens")


def _check_tokenize(ctx: Ctx, out: str, _) -> str | None:
    return _against(ctx, "x_bpe_encode", _read_parquet(f"{out}/tokens"))


WORKLOADS = {
    "pac_upload": Workload(
        "pac_upload",
        scale={"*": 0.05},
        steps=[
            Step("upload_docstore", _upload_docstore, _check_upload_docstore, ("orders",), "pipe_csv_report"),
            Step("snowflake_shards", _snowflake_shards, _check_snowflake_shards, ("lineitem",), "pipe_snowflake_batch"),
            Step("party_rollup_paths", _party_rollup_paths, _check_party_rollup_paths, ("lineitem", "orders", "supplier"), "a10_nested_rollup"),
            Step("index_align_keyed", _index_align_keyed, _check_index_align_keyed, ("supplier",)),
            Step("cdc_refresh", _cdc_refresh, _check_cdc_refresh, ("events",), "x_stream_cdc"),
        ],
        prepare=_prepare_upload,
    ),
    "corpus_prep": Workload(
        "corpus_prep",
        scale={"*": 0.001, "documents": 0.4},
        steps=[
            Step("train_corpus", _train_corpus, _check_train_corpus, ("documents",), "pipe_train_corpus"),
            Step("minhash_near_dup", _minhash, _check_minhash, ("documents",)),
            Step("tokenizer_encode", _tokenize, _check_tokenize, ("documents",), "x_bpe_encode"),
        ],
    ),
}
