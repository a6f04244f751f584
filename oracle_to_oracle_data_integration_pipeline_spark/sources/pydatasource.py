"""User-pluggable Python DataSource (Spark 4 `pyspark.sql.datasource`)
— the modern plug-point for custom sources, demonstrated with a
deterministic synthetic CDC change feed.

The reference's only source is an Oracle JDBC reader
(`/root/reference/scripts/03_cdc_etl.py:276-283`); this engine already
mirrors that via the JDBC source. A *Python* DataSource completes the
source surface: any system a user can reach from Python (REST change
feeds, message queues, proprietary SDKs) can feed the engine through
this API — schema declaration, partition planning, per-partition
iterators, and a streaming reader with replayable offsets — without
touching JVM code.

Scale/design notes:
- ``partitions()`` drives parallelism: each InputPartition is read by
  one task, so a real connector maps shards/topic-partitions 1:1. The
  synthetic feed splits its row range evenly.
- Rows are generated from md5(row_index) ONLY — any row can be
  produced independently, which makes the feed deterministic,
  partition-order-free, and exactly reproducible in SQL (the DuckDB
  oracle regenerates the identical rows from generate_series + md5) —
  the same discipline as the md5-based samplers in
  operators/sampling.py.
- The streaming reader is a SimpleDataSourceStreamReader: offsets are
  row indices; ``read(start)`` advances by ``batch_rows`` per
  micro-batch and ``readBetweenOffsets`` replays any committed range
  on recovery — at-least-once replay safety, the same contract the
  CDC pipeline's watermark protocol assumes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from datetime import datetime, timedelta

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

_BASE_TS = datetime(2024, 1, 1)
_OPS = ("I", "U", "D")


def _row(i: int, n_keys: int):
    """Row i of the feed, a pure function of i: op weighted I/U/D by
    the first md5 hex digit (8/6/2 of 16), key = i % n_keys, val = an
    md5 slice, ts = base + i seconds."""
    h = hashlib.md5(str(i).encode()).hexdigest()
    d = int(h[0], 16)
    op = _OPS[0 if d < 8 else (1 if d < 14 else 2)]
    return (op, i % n_keys, h[:8], _BASE_TS + timedelta(seconds=i))


class ChangeFeedReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 1000))
        self.n_keys = int(options.get("n_keys", 100))
        self.n_parts = int(options.get("n_parts", 4))

    def partitions(self):
        return [InputPartition(p) for p in range(self.n_parts)]

    def read(self, partition) -> Iterator[tuple]:
        p = partition.value
        for i in range(p, self.n_rows, self.n_parts):
            yield _row(i, self.n_keys)


class ChangeFeedStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 1000))
        self.n_keys = int(options.get("n_keys", 100))
        self.batch_rows = int(options.get("batch_rows", 100))

    def initialOffset(self) -> dict:
        return {"i": 0}

    def read(self, start: dict):
        lo = start["i"]
        hi = min(lo + self.batch_rows, self.n_rows)
        return (self._rows(lo, hi), {"i": hi})

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(start["i"], end["i"])

    def _rows(self, lo: int, hi: int):
        # iter(list), specifically a list_iterator: the prefetching
        # runner needs BOTH next() (it drains the batch into its cache)
        # AND copy.copy() (it replays cached entries on recovery).
        # Generators aren't copyable and bare lists aren't iterators;
        # list_iterators are both (copy via __reduce_ex__). Batches are
        # bounded by batch_rows, so materializing is safe.
        return iter([_row(i, self.n_keys) for i in range(lo, hi)])


class ChangeFeedDataSource(DataSource):
    """``spark.read.format("cdc_feed")`` after
    ``spark.dataSource.register(ChangeFeedDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "cdc_feed"

    def schema(self) -> str:
        return "op string, id long, val string, ts timestamp"

    def reader(self, schema) -> ChangeFeedReader:
        return ChangeFeedReader(self.options)

    def simpleStreamReader(self, schema) -> ChangeFeedStreamReader:
        return ChangeFeedStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration (re-registering the same name is fine)."""
    spark.dataSource.register(ChangeFeedDataSource)


# -- Python DataSource WRITER: two-phase-commit audit sink --------------
#
# The write half of the §2.10 Python DataSource surface: a JSONL audit
# sink with the full two-phase commit contract —
#   1. every task STAGES its partition to `<path>/_staged/part-<pid>-
#      <attempt>.jsonl` and returns the filename in its commit message;
#   2. the driver's commit() publishes EXACTLY the staged files named
#      in the surviving commit messages (one per partition — a retried
#      task's losing attempt stays in _staged, never published) by
#      hard-linking them into the data dir and writing `_manifest.json`
#      atomically (write-temp + os.replace, the snapshots.py rule);
#   3. abort() removes the staged files so failed writes leave nothing.
# Readers (`read_audit`) list the MANIFEST, never the directory — an
# orphaned stage file or a concurrent half-finished write is invisible,
# the same reader-isolation argument as sources/snapshots.py.
#
# The streaming variant commits one manifest per micro-batch
# (`_manifest-<epoch>.json`), giving idempotent exactly-once publication
# per batchId on top of the engine's replayable-offset sources.

import json as _json
import os as _os
from dataclasses import dataclass

from pyspark.sql.datasource import DataSourceStreamWriter, DataSourceWriter, WriterCommitMessage


@dataclass
class _FileCommit(WriterCommitMessage):
    file: str
    n_rows: int


def _stage_partition(path: str, iterator) -> _FileCommit:
    """Task-side: stage this partition's rows as one JSONL file, named
    by (partitionId, taskAttemptId) so racing attempts can never
    collide and the winner is whichever message reaches commit()."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    staged = _os.path.join(path, "_staged")
    _os.makedirs(staged, exist_ok=True)
    fname = f"part-{ctx.partitionId()}-{ctx.taskAttemptId()}.jsonl"
    n = 0
    with open(_os.path.join(staged, fname), "w") as f:
        for row in iterator:
            f.write(_json.dumps(row.asDict(), default=str) + "\n")
            n += 1
    return _FileCommit(file=fname, n_rows=n)


def _publish(path: str, messages, manifest_name: str) -> None:
    """Driver-side commit: link the winning staged files into the data
    dir, then one atomic manifest replace. Idempotent per manifest
    name (re-publishing the same batch rewrites the same manifest)."""
    data = _os.path.join(path, "data")
    _os.makedirs(data, exist_ok=True)
    files, total = [], 0
    for m in messages:
        if m is None:
            continue
        src = _os.path.join(path, "_staged", m.file)
        dst = _os.path.join(data, m.file)
        if not _os.path.exists(dst):
            _os.link(src, dst)
        files.append(_os.path.join("data", m.file))
        total += m.n_rows
    tmp = _os.path.join(path, manifest_name + ".tmp")
    with open(tmp, "w") as f:
        _json.dump({"files": sorted(files), "n_rows": total}, f)
    _os.replace(tmp, _os.path.join(path, manifest_name))


def _discard(path: str, messages) -> None:
    for m in messages:
        if m is None:
            continue
        try:
            _os.remove(_os.path.join(path, "_staged", m.file))
        except FileNotFoundError:
            pass


class AuditSinkWriter(DataSourceWriter):
    def __init__(self, options):
        self.path = options["path"]
        # The sink exists once a write starts, even one whose tasks
        # all fail before staging a file: it then reads as empty.
        _os.makedirs(self.path, exist_ok=True)

    def write(self, iterator) -> _FileCommit:
        return _stage_partition(self.path, iterator)

    def commit(self, messages) -> None:
        _publish(self.path, messages, "_manifest.json")

    def abort(self, messages) -> None:
        _discard(self.path, messages)


class AuditSinkStreamWriter(DataSourceStreamWriter):
    def __init__(self, options):
        self.path = options["path"]

    def write(self, iterator) -> _FileCommit:
        return _stage_partition(self.path, iterator)

    def commit(self, messages, batchId: int) -> None:
        _publish(self.path, messages, f"_manifest-{batchId}.json")

    def abort(self, messages, batchId: int) -> None:
        _discard(self.path, messages)


class AuditSinkDataSource(DataSource):
    """``df.write.format("audit_sink").option("path", ...)`` (and the
    same for writeStream) after ``register_sink(spark)``."""

    @classmethod
    def name(cls) -> str:
        return "audit_sink"

    def writer(self, schema, overwrite: bool) -> AuditSinkWriter:
        return AuditSinkWriter(self.options)

    def streamWriter(self, schema, overwrite: bool) -> AuditSinkStreamWriter:
        return AuditSinkStreamWriter(self.options)


def register_sink(spark) -> None:
    spark.dataSource.register(AuditSinkDataSource)


def read_audit(spark, path: str, schema: str):
    """Read back ONLY manifest-listed files (batch + every committed
    micro-batch manifest) — orphaned stage files are invisible."""
    files = []
    for name in sorted(_os.listdir(path)):
        if name == "_manifest.json" or (
            name.startswith("_manifest-") and name.endswith(".json")
        ):
            with open(_os.path.join(path, name)) as f:
                files.extend(_json.load(f)["files"])
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(
        [_os.path.join(path, f) for f in sorted(set(files))]
    )
