"""Parquet source/sink — the engine's default storage.

Columnar, splittable, min/max-statistics-bearing: filters on base
columns prune row groups, projections prune columns, and a 100 TB table
becomes ~100k independent scan tasks. This is the property the engine's
delta predicate is designed around (see operators/cdc.py:
``delta_predicate`` rewrites the derived-column filter onto base columns
so pushdown survives).

The same footers answer metadata questions on the driver, with no
Spark job: ``footer_schema`` is the schema ``spark.read.parquet`` would
infer, and ``newer_rows`` bounds the rows newer than a watermark from
row-group statistics and tells whether they prove at least one. Both
read the footers fresh on every call.
"""

from __future__ import annotations

import calendar
import functools
import json
import os
import time
from datetime import datetime
from typing import NamedTuple

import pyarrow.parquet as pq
from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T

from oracle_to_oracle_data_integration_pipeline_spark.sources.locking import swap_dir

# Characters that make Spark glob a path (SparkHadoopUtil.isGlobPath).
_GLOB_CHARS = frozenset("{}[]*?\\")


def data_files(path: str) -> list[str] | None:
    """The data files Spark's file index lists for ``path``, in the
    order its schema inference takes them (sorted by path), or None
    when this listing cannot mirror Spark's: a glob or non-local path,
    a subdirectory (hive partitions, nested datasets), or a summary
    file (``_metadata``/``_common_metadata``, which inference reads
    first). Like Spark, a directory's every non-hidden file counts,
    ``.parquet`` suffix or not."""
    if _GLOB_CHARS.intersection(path):
        return None
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        return None
    files = []
    with os.scandir(path) as entries:
        for e in entries:
            name = e.name
            if name.startswith(("_metadata", "_common_metadata")):
                return None
            # HadoopFSUtils.shouldFilterOutPathName
            if (name.startswith("_") and "=" not in name) or name.startswith(".") \
                    or name.endswith("._COPYING_"):
                continue
            if not e.is_file():
                return None
            files.append(e.path)
    return sorted(files)


@functools.lru_cache(maxsize=None)
def _footer_api(jvm):
    """JVM handles for one gateway: each lookup is a py4j round trip."""
    hadoop = jvm.org.apache.parquet.hadoop
    fmt = getattr(jvm.org.apache.spark.sql.execution.datasources.parquet, "ParquetFileFormat$")
    return (
        jvm.org.apache.hadoop.fs.Path,
        hadoop.ParquetFileReader,
        hadoop.Footer,
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        jvm.scala.jdk.javaapi.CollectionConverters,
        fmt.__getattr__("MODULE$"),
    )


def footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """``spark.read.parquet(path).schema``, without its schema-inference
    job.

    Reads the first data file's footer on the driver and converts it
    with Spark's own ``ParquetFileFormat.readSchema``, the converter
    inference runs (session confs such as NTZ inference and
    ``nanosAsLong``, the Spark schema that Spark-written files carry),
    then makes it nullable as a file source does. Anything it cannot
    mirror (see ``data_files``, schema merging, a py4j error) falls back
    to plain inference. Nothing is memoized: a part file rewritten in
    place keeps its directory's stamp, and a file rewritten at the same
    size within one mtime tick keeps its own."""
    files = data_files(path)
    if files and spark.conf.get("spark.sql.parquet.mergeSchema").lower() == "false":
        try:
            Path, reader, Footer, skip_row_groups, seqs, fmt = _footer_api(spark._jvm)
            p = Path(files[0])
            footer = Footer(p, reader.readFooter(spark._jsc.hadoopConfiguration(), p, skip_row_groups))
            schema = fmt.readSchema(seqs.asScala([footer]).toSeq(), spark._jsparkSession)
            return T.StructType.fromJson(json.loads(schema.get().asNullable().json()))
        except Py4JError:
            pass
    return spark.read.parquet(path).schema


def _instant_us(ts: datetime) -> int:
    """Microseconds since the epoch of ``ts`` as PySpark's datetime
    literal converter computes them: a naive value is local time."""
    secs = calendar.timegm(ts.utctimetuple()) if ts.tzinfo else time.mktime(ts.timetuple())
    return int(secs) * 1_000_000 + ts.microsecond


def _micros_per_unit(col) -> int | None:
    """µs per stored unit of a top-level UTC-adjusted INT64 timestamp
    column; None for any other column (naive or nanosecond timestamps,
    INT96, non-timestamps), whose statistics the gate does not read."""
    lt = col.logical_type
    if col.physical_type != "INT64" or lt.type != "TIMESTAMP" or col.max_repetition_level:
        return None
    spec = json.loads(lt.to_json())
    if not spec.get("isAdjustedToUTC"):
        return None
    return {"milliseconds": 1000, "microseconds": 1}.get(spec.get("timeUnit"))


def _may_be_newer(chunk, num_rows: int, scale: int, since_us: int) -> bool:
    st = chunk.statistics
    if st is None or not st.has_null_count:
        return True
    if st.null_count == num_rows:
        return False  # all null: no value, so none newer
    if not st.has_min_max:
        return True
    return st.max_raw * scale > since_us


def _is_newer(chunk, scale: int, since_us: int) -> bool:
    """The chunk's statistics name a non-null value newer than
    ``since_us``: its max is such a value, held by some row."""
    st = chunk.statistics
    return st is not None and st.has_min_max and st.max_raw * scale > since_us


class NewerRows(NamedTuple):
    """What the footers say about the rows newer than a watermark:
    ``bound`` caps how many there are, and ``proven`` is True when some
    row group's statistics name a non-null ``created_at``/``updated_at``
    max strictly after it, so at least one exists."""

    bound: int
    proven: bool


def newer_rows(path: str | None, since, columns: tuple[str, ...]) -> NewerRows | None:
    """Bound, and proof of, the rows of the parquet table at ``path``
    that hold a value newer than ``since`` (strict ``>``) in any of
    ``columns``. The bound sums the row groups whose statistics allow
    such a row; 0 proves there is none. None when the footers cannot
    bound it: no path, a listing Spark may not share (``data_files``),
    a file pyarrow cannot parse, a column missing, ambiguous or not a
    UTC-adjusted micro/millisecond timestamp, or a ``since`` that is
    not a datetime. Columns match case-insensitively, as Spark resolves
    them. Reads every data file's footer on the driver, fresh on every
    call."""
    if path is None or not isinstance(since, datetime):
        return None
    files = data_files(path)
    if files is None:
        return None
    since_us = _instant_us(since)
    wanted = {c.lower() for c in columns}
    bound, proven = 0, False
    for f in files:
        try:
            md = pq.read_metadata(f)
        except Exception:  # not parquet, truncated, unreadable
            return None
        cols = {}
        for i in range(md.num_columns):
            col = md.schema.column(i)
            name = col.path.lower()
            if name in wanted:
                scale = _micros_per_unit(col)
                if scale is None or name in cols:
                    return None
                cols[name] = (i, scale)
        if len(cols) != len(wanted):
            return None
        for r in range(md.num_row_groups):
            rg = md.row_group(r)
            if any(_may_be_newer(rg.column(i), rg.num_rows, scale, since_us) for i, scale in cols.values()):
                bound += rg.num_rows
                proven = proven or any(_is_newer(rg.column(i), scale, since_us) for i, scale in cols.values())
    return NewerRows(bound, proven)


def newer_rows_bound(path: str | None, since, columns: tuple[str, ...]) -> int | None:
    """``newer_rows``' bound alone: an upper bound on the rows newer
    than ``since``, 0 when there is none, None when the footers cannot
    bound them."""
    rows = newer_rows(path, since, columns)
    return None if rows is None else rows.bound


class ParquetSource:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        # Fixture layout: one file per table; production layout: a
        # directory of part files (both read identically).
        p = os.path.join(self.root, f"{table}.parquet")
        return p if os.path.exists(p) else os.path.join(self.root, table)

    def load(self, table: str) -> DataFrame:
        path = self.path(table)
        return self.spark.read.schema(footer_schema(self.spark, path)).parquet(path)

    def load_where(self, table: str, predicate: Column | None) -> DataFrame:
        df = self.load(table)
        return df.filter(predicate) if predicate is not None else df


class ParquetSink:
    def __init__(self, root: str):
        self.root = root

    def write(self, df: DataFrame, table: str, mode: str = "append") -> None:
        df.write.mode(mode).parquet(os.path.join(self.root, table))

    def write_sized(
        self,
        df: DataFrame,
        table: str,
        mode: str = "append",
        target_files: int | None = None,
        max_records_per_file: int | None = None,
        partition_by: list[str] | None = None,
        sort_within_by: list[str] | None = None,
    ) -> None:
        """Size-aware write — the knobs that keep a 100 TB table from
        degenerating into millions of tiny files (every incremental
        run appending shuffle-partition-count files) or a few
        unsplittable giants:

        - ``target_files``: explicit output file count via repartition
          (hash on the partition columns so each directory gets whole
          files, round-robin otherwise);
        - ``max_records_per_file``: row cap per file, Spark splits
          oversized tasks at write time;
        - ``partition_by``: hive-style directory partitioning (enables
          partition pruning on read — see `partitioned_scan` qid);
        - ``sort_within_by``: per-file ordering so parquet min/max
          row-group stats become selective for range predicates.
        """
        out = df
        if target_files:
            out = (
                out.repartition(target_files, *[out[c] for c in partition_by])
                if partition_by
                else out.repartition(target_files)
            )
        if sort_within_by:
            out = out.sortWithinPartitions(*sort_within_by)
        writer = out.write.mode(mode)
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(self.root, table))

    def compact(
        self,
        spark: SparkSession,
        table: str,
        target_files: int,
        sort_within_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
    ) -> int:
        """Rewrite a table directory to ``target_files`` right-sized
        files (the maintenance job every append-heavy pipeline needs),
        swapped in by ``sources.locking.swap_dir`` — the same
        stage-and-swap as the pipeline's merge overwrite, under the
        same table lock, so a compact and a replicate serialize.
        Returns the file count before compaction.
        """
        path = os.path.join(self.root, table)
        before: list[str] = []

        def rewrite(staged: str) -> None:
            # list and read INSIDE the lock, after the swap's heal: a
            # merge swapping the directory after this listing would
            # leave the compact writing from a stale (removed) file index
            part_dirs = [
                d for d in os.listdir(path)
                if "=" in d and os.path.isdir(os.path.join(path, d))
            ]
            if part_dirs:
                # a flat rewrite would silently DROP the hive partitioning
                # (and with it partition pruning on every future read)
                raise ValueError(
                    f"{table} is hive-partitioned ({part_dirs[0]}, ...); "
                    "compact per partition or rewrite with "
                    "write_sized(partition_by=...) instead"
                )
            before.extend(
                f for f in os.listdir(path)
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
            df = spark.read.parquet(path)
            if cluster_by:
                # recluster while rewriting: footer min/max ranges come
                # out narrow/disjoint so future selective scans prune
                # row groups (operators/scale.py cluster_by_range)
                from oracle_to_oracle_data_integration_pipeline_spark.operators.scale import (
                    cluster_by_range,
                )

                df = cluster_by_range(df, cluster_by, num_files=target_files)
            else:
                df = df.repartition(target_files)
            if sort_within_by:
                # keep the cluster columns as the sort prefix: a bare
                # sortWithinPartitions(sort_within_by) would REPLACE the
                # range-cluster's in-partition order and widen the
                # per-row-group min/max stats the clustering exists to
                # narrow — secondary keys sort within each cluster key
                df = df.sortWithinPartitions(*(cluster_by or []), *sort_within_by)
            df.write.mode("overwrite").parquet(staged)

        swap_dir(path, rewrite)
        return len(before)
