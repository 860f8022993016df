"""Document-store connector as a Spark Python DataSource (S5/K1).

The reference's document store is a Firebase collection: documents
addressed by key, payload is a JSON tree (SURVEY §2.1 S5, §2.2 K1).
The sandbox has no Firebase, but Spark 4's Python DataSource API
lets us implement the *connector itself* instead of only plumbing:
a collection is a directory of ``<doc_key>.json`` files, and this
module registers a ``pac_docstore`` format with both a reader and a
writer, so the engine speaks the layout end-to-end:

    df.write.format("pac_docstore").mode("overwrite").save(dir)
    spark.read.format("pac_docstore").load(dir)

Scale shape: the reader shards the file listing round-robin into
``shards`` input partitions (no single-task listing bottleneck per
partition; at real scale the listing itself would page through the
store's index API per shard), and BOTH directions are Arrow-batched:
the reader yields ``pyarrow.RecordBatch`` chunks and the writer is a
``DataSourceArrowWriter``, so documents cross the Python/JVM boundary
as columnar batches instead of pickled row tuples. The writer is
per-partition — each
task writes only its rows' documents, no driver fan-in, mirroring
how the reference batches Firebase writes per chunk
(`index_align_to_firebase.py` batching; our sink's 80%-success gate
lives in sinks/documents.foreach_partition_write).

Input schema for writes and output schema for reads is fixed at
``(doc_key string, payload string)`` — payload is the JSON document
(`F.to_json(F.struct(...))` on the way in, `F.from_json` on the way
out), keeping the connector schema-agnostic like a real doc store.

Every save mode is a per-key upsert, like a document-store ``set``:
a written document replaces the stored one with the same key, and
documents whose keys the frame does not carry stay untouched —
``overwrite`` does not clear the collection first.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

SCHEMA = "doc_key string, payload string"

#: Arrow schema twin of :data:`SCHEMA` — both the reader's emitted
#: RecordBatches and the writer's received ones use it.
ARROW_SCHEMA = pa.schema(
    [pa.field("doc_key", pa.string()), pa.field("payload", pa.string())]
)

#: Documents per emitted RecordBatch on the read path. Bounds reader
#: memory (one batch of payloads at a time) while amortizing the
#: per-batch Arrow/serde cost over many documents.
READ_BATCH_DOCS = 1024


class _DocShard(InputPartition):
    def __init__(self, paths: Sequence[str]):
        self.paths = list(paths)


@dataclass
class _WroteDocs(WriterCommitMessage):
    n_docs: int = 0


class DocStoreReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.n_shards = int(options.get("shards", "8"))

    def partitions(self) -> Sequence[InputPartition]:
        files = sorted(glob.glob(os.path.join(self.path, "*.json")))
        shards = [files[i :: self.n_shards] for i in range(self.n_shards)]
        return [_DocShard(s) for s in shards if s] or [_DocShard([])]

    def read(self, partition: _DocShard) -> Iterator[pa.RecordBatch]:
        """Yield Arrow RecordBatches (not row tuples): Spark's Python
        DataSource path ships Arrow batches to the JVM wholesale,
        skipping per-row pickle/unpickle — the round-trip's fixed
        overhead is serde, not I/O, so this is where the ~3 s
        machinery cost of the row-tuple implementation went."""
        keys: list[str] = []
        payloads: list[str] = []
        for p in partition.paths:
            with open(p, encoding="utf-8") as f:
                keys.append(os.path.splitext(os.path.basename(p))[0])
                payloads.append(f.read())
            if len(keys) >= READ_BATCH_DOCS:
                yield pa.record_batch(
                    [pa.array(keys), pa.array(payloads)], schema=ARROW_SCHEMA
                )
                keys, payloads = [], []
        if keys:
            yield pa.record_batch(
                [pa.array(keys), pa.array(payloads)], schema=ARROW_SCHEMA
            )


class DocStoreWriter(DataSourceArrowWriter):
    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator: Iterator[pa.RecordBatch]) -> WriterCommitMessage:
        """Arrow-batched per-partition write: each task receives its
        rows as RecordBatches (no Row materialization) and writes
        only its own documents — no driver fan-in."""
        os.makedirs(self.path, exist_ok=True)
        n = 0
        for batch in iterator:
            keys = batch.column("doc_key").to_pylist()
            payloads = batch.column("payload").to_pylist()
            for key, payload in zip(keys, payloads):
                dest = os.path.join(self.path, f"{key}.json")
                with open(dest, "w", encoding="utf-8") as f:
                    f.write(payload if payload is not None else "null")
            n += len(keys)
        return _WroteDocs(n_docs=n)

    def commit(self, messages):
        return None

    def abort(self, messages):
        return None


class DocStoreDataSource(DataSource):
    """``pac_docstore`` format: key-addressed JSON documents in a
    directory, read sharded / written per-partition."""

    @classmethod
    def name(cls) -> str:
        return "pac_docstore"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return DocStoreReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceArrowWriter:
        return DocStoreWriter(self.options)


def register_docstore(spark) -> None:
    """Idempotent registration of the ``pac_docstore`` format."""
    spark.dataSource.register(DocStoreDataSource)
