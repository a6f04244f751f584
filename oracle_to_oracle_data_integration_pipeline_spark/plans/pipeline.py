"""The replication pipeline — the engine's flagship program.

Re-expresses the reference's main loop
(`/root/reference/scripts/03_cdc_etl.py:238-379`) Spark-first:

reference step                              → engine step
----------------------------------------------------------------------
discover tables / PKs / FKs (dictionary)    → Catalog registry
topo sort, cycles appended                  → plans.topo (deterministic)
per-table: read watermark                   → WatermarkStore.get
full JDBC read then filter derived column   → pushdown-safe base-column
                                              predicate at the scan
count() to gate empty delta                 → the source's parquet footers
                                              on the driver (no Spark job):
                                              no row group newer than the
                                              watermark → empty_delta; a
                                              proven row and a bound under
                                              the broadcast limit → no gate
                                              job; else one count() of the
                                              cached, deduplicated delta
                                              (a first load runs none)
stage to STG_ table + Oracle MERGE          → merge_soft_delete (one
                                              shuffle join, or broadcast
                                              joins for a small delta; no
                                              staging copy — the DataFrame
                                              IS the stage)
COUNT(*) attribution; watermark =          → u/i/x, the delta's row count
MAX(GREATEST(...)) recompute                  and max(change_ts) observed
                                              on the merge join by the
                                              target write (the reference
                                              re-scans 3×); a zero row
                                              count discards the staged
                                              write → empty_delta
per-table try/except, summary, exit code    → RunReport with per-table
                                              error isolation

Scale notes: every table's delta read, merge and staged write run
concurrently, across FK depths (driver threads submitting independent
Spark jobs — the reference is strictly serial). Only the commit — the
rename swap plus the watermark upsert — follows FK depth: a table
commits once every table of a lower depth has committed or ended
empty, skipped or failed, so a child's rows never become visible
before its parents' rows of the same run. The merge is the only wide
operation, and its delta side is typically small enough for AQE to
broadcast. Metadata costs no Spark job: schemas come from parquet
footers (``sources.parquet.footer_schema``), and a table whose every
row group's ``created_at``/``updated_at`` max is at or below the
watermark ends ``empty_delta`` from its footers alone
(``newer_rows``). The rows of the row groups that may hold newer
changes bound the delta. Spark counts a delta beforehand only where an
empty one would rewrite a replicated target and the footers do not
both prove a row and bound it under ``BROADCAST_DELTA_MAX_ROWS``: a
first load and a proven, bounded delta run the merge's write as the
table's only query (3 jobs for the bounded one: two broadcasts and the
write), uncached, and the write's observed row count ends an empty
one. Every other incremental delta is deduplicated, cached once and
counted once; the count picks the merge. The bounded write scans the
delta's source files twice, once for the key broadcast and once for
the delta rows, so a source must publish changes as new files and
never rewrite a file in place during a cycle: a rewrite between the
two scans could drop a target row the new rows no longer carry, or
insert a key twice. The gate reads one
footer per data file per cycle, fresh each time; at millions of files
per-file statistics belong in a manifest written with the data, not in
a listing plus a footer read per file. Target storage here is plain
parquet, replaced per table by one stage-and-swap
(``sources.locking.swap_dir``); at 100 TB the
same `merge_soft_delete` plugs into Delta/Iceberg `MERGE INTO` via
`foreachBatch` without changing semantics (SURVEY.md §7 "what's built-in
vs custom").
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.utils import is_timestamp_ntz_preferred

from oracle_to_oracle_data_integration_pipeline_spark.catalog import Catalog
from oracle_to_oracle_data_integration_pipeline_spark.operators.cdc import (
    CREATED,
    UPDATED,
    MergeResult,
    delta_predicate,
    latest_per_key,
    merge_soft_delete,
)
from oracle_to_oracle_data_integration_pipeline_spark.operators.watermark import WatermarkStore
from oracle_to_oracle_data_integration_pipeline_spark.plans.schema_tools import validate_cdc_columns
from oracle_to_oracle_data_integration_pipeline_spark.plans.topo import topo_depths, topo_sort_tables
from oracle_to_oracle_data_integration_pipeline_spark.sources import locking
from oracle_to_oracle_data_integration_pipeline_spark.sources.parquet import NewerRows, footer_schema, newer_rows

# The largest delta merged with broadcast_delta, by footer bound or by
# count; a first load always shuffles. The explicit broadcast hint
# overrides Spark's size safeguards, so a bulk backfill with a
# watermark present must still take the shuffle path (see
# operators/cdc.py merge_soft_delete).
BROADCAST_DELTA_MAX_ROWS = 1_000_000


@dataclass
class TableResult:
    table: str
    status: str  # replicated | skipped_no_pk | empty_delta | failed
    inserted: int = 0
    updated: int = 0
    dropped_deletes: int = 0
    error: str | None = None


@dataclass
class RunReport:
    """Summary parity with the reference's run stats
    (`/root/reference/scripts/03_cdc_etl.py:207-217,336-379`)."""

    results: list[TableResult] = field(default_factory=list)

    @property
    def processed(self) -> int:
        return sum(1 for r in self.results if r.status in ("replicated", "empty_delta"))

    @property
    def inserted(self) -> int:
        return sum(r.inserted for r in self.results)

    @property
    def updated(self) -> int:
        return sum(r.updated for r in self.results)

    @property
    def failed(self) -> list[str]:
        return [r.table for r in self.results if r.status == "failed"]

    @property
    def skipped(self) -> list[str]:
        return [r.table for r in self.results if r.status == "skipped_no_pk"]

    @property
    def exit_code(self) -> int:
        """Reference exits 2 when any table failed
        (`/root/reference/scripts/03_cdc_etl.py:373-377`)."""
        return 2 if self.failed else 0


class ParquetTargetStore:
    """Per-table parquet target, replaced whole on each merge by
    ``sources.locking.swap_dir``: the stage-and-swap shared with
    ``ParquetSink.compact``. ``merge`` holds the table's write lock
    across its whole read→merge→swap (the lock is thread-reentrant, so
    the swap's own acquisition nests freely). Readers are not locked:
    between the swap's two renames the path is briefly missing (ENOENT)
    — retry.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))

    def read(self, table: str) -> DataFrame:
        """The target as it stands, its schema from its own footer (it
        differs from the source's under schema evolution)."""
        path = self.path(table)
        return self.spark.read.schema(footer_schema(self.spark, path)).parquet(path)

    def overwrite(
        self, table: str, df: DataFrame, before_swap: Callable[[], None] | None = None
    ) -> None:
        """Write ``df`` beside the table, call ``before_swap`` (the
        pipeline's FK commit-order wait), then swap it in. A failure
        before the swap removes the staged copy and leaves the previous
        version in place."""
        locking.swap_dir(self.path(table), df.write.mode("overwrite").parquet, before_swap)

    def merge(
        self, table: str, delta: DataFrame, pk: list[str], strategy: str = "shuffle",
        before_swap: Callable[[], None] | None = None,
    ) -> MergeResult | None:
        """Merge ``delta`` (at most one row per key) into the table with
        one write, then swap it in. The write's observation decides
        emptiness: a delta of no row discards the staged copy before
        ``before_swap`` and returns None, the table as it was.

        The table lock covers the whole read→merge→swap: a concurrent
        writer (another merge, a compact) cannot swap the directory
        between this target read and the overwrite — the lost-update /
        stale-file-listing window. The heal first puts back a table a
        killed swap left parked, so it is not taken for a first load.
        """
        path = self.path(table)
        with locking.table_write_lock(path):
            locking.heal_swap(path)
            tgt = self.read(table) if self.exists(table) else delta.limit(0)  # first load
            merged = merge_soft_delete(tgt, delta, pk, strategy=strategy)

            def checked_swap() -> None:
                if merged.stats().delta_rows == 0:
                    raise _EmptyDelta
                if before_swap is not None:
                    before_swap()

            try:
                self.overwrite(table, merged.df, before_swap=checked_swap)
            except _EmptyDelta:
                return None
        return merged


class _EmptyDelta(Exception):
    """The merge's write observed no delta row: discard the staged copy."""


class _CommitOrder:
    """FK commit order of one parallel run. ``wait(table)`` blocks until
    every table of a lower depth has been released: committed with its
    watermark upserted, or ended empty, skipped or failed."""

    def __init__(self, depths: dict[str, int]):
        self._depths = depths
        self._released = {t: threading.Event() for t in depths}

    def wait(self, table: str) -> None:
        depth = self._depths[table]
        for t, released in self._released.items():
            if self._depths[t] < depth:
                released.wait()

    def release(self, table: str) -> None:
        self._released[table].set()


class CdcPipeline:
    """Incremental soft-delete replication from a source catalog into a
    parquet target, watermark-gated — the reference's flagship program
    as a Spark library object."""

    def __init__(
        self,
        spark: SparkSession,
        source: Catalog,
        target: ParquetTargetStore,
        watermarks: WatermarkStore,
        max_parallel_tables: int = 4,
    ):
        self.spark = spark
        self.source = source
        self.target = target
        self.watermarks = watermarks
        self.max_parallel_tables = max_parallel_tables
        self._commit_order: _CommitOrder | None = None  # set during a parallel run

    # -- per-table replication (reference loop body,
    #    /root/reference/scripts/03_cdc_etl.py:259-351) ---------------

    def replicate_table(self, table: str) -> TableResult:
        commit_order = self._commit_order
        try:
            pk = self.source.get_pk_columns(table)
            if not pk:
                # Reference skips PK-less tables (03_cdc_etl.py:264-268).
                return TableResult(table, "skipped_no_pk")

            schema = self.source.get_schema(table)
            validate_cdc_columns(schema, table)  # 03_cdc_etl.py:270-274

            last_ts = self.watermarks.get(table)
            # The footers may prove the delta empty, at no Spark job, or
            # prove a row newer than the watermark and bound the delta.
            rows = self._newer_rows(table, schema, last_ts)
            if rows is not None and rows.bound == 0:
                return TableResult(table, "empty_delta")

            src = self.source.load(table, schema=schema)
            if last_ts is None:
                # A first load shuffles the whole source, uncounted: an
                # empty one ends at the write, which discards its copy.
                return self._merge(table, pk, latest_per_key(src, pk), "shuffle", commit_order)
            delta = src.filter(delta_predicate(last_ts))
            if rows is not None and rows.proven and rows.bound <= BROADCAST_DELTA_MAX_ROWS:
                # Small and holding a row: the merge's write is the only
                # query. One partition already meets the dedupe window's
                # clustering, so no exchange, and the single task opens
                # the files the footer gate opened this cycle.
                return self._merge(
                    table, pk, latest_per_key(delta.coalesce(1), pk), "broadcast_delta", commit_order)
            # The footers do not show the delta both non-empty and
            # small: count it once, over a cache the merge then reads.
            delta = latest_per_key(delta, pk).cache()
            try:
                n = delta.count()
                if n == 0:
                    return TableResult(table, "empty_delta")
                strategy = "broadcast_delta" if n <= BROADCAST_DELTA_MAX_ROWS else "shuffle"
                return self._merge(table, pk, delta, strategy, commit_order)
            finally:
                delta.unpersist()
        except Exception as exc:  # per-table isolation (03_cdc_etl.py:348-352)
            return TableResult(table, "failed", error=f"{type(exc).__name__}: {exc}")
        finally:
            # After the watermark upsert, and on every exit path, so a
            # failed or empty parent never holds back its children.
            if commit_order is not None:
                commit_order.release(table)

    def _merge(
        self, table: str, pk: list[str], delta: DataFrame, strategy: str,
        commit_order: _CommitOrder | None,
    ) -> TableResult:
        """Merge ``delta`` into the target, after the FK wait, then
        advance the watermark; ``empty_delta`` when the write saw no
        delta row."""
        wait = None if commit_order is None else (lambda: commit_order.wait(table))
        merged = self.target.merge(table, delta, pk, strategy, before_swap=wait)
        if merged is None:
            return TableResult(table, "empty_delta")
        # Watermark advance only after a successful write (at-least-once
        # protocol, 03_cdc_etl.py:324-334).
        stats = merged.stats()
        if stats.max_change_ts is not None:
            self.watermarks.upsert(table, stats.max_change_ts)
        return TableResult(
            table,
            "replicated",
            inserted=stats.inserted,
            updated=stats.updated,
            dropped_deletes=stats.dropped_deletes,
        )

    def _newer_rows(self, table: str, schema: T.StructType, last_ts) -> NewerRows | None:
        """What the source's parquet footers say about the rows newer
        than ``last_ts``: a bound (0 when there is none) and whether
        they prove one. None when only Spark can tell: no watermark, no
        parquet path, CDC columns Spark does not read as instants, or a
        watermark literal that would be timestamp_ntz."""
        types = {f.name.lower(): f.dataType for f in schema.fields}
        instants = all(isinstance(types.get(c), T.TimestampType) for c in (CREATED, UPDATED))
        if last_ts is None or not instants or is_timestamp_ntz_preferred():
            return None
        return newer_rows(self.source.get_meta(table).path, last_ts, (CREATED, UPDATED))

    # -- full run ------------------------------------------------------

    def run(self, tables: list[str] | None = None, parallel: bool = True) -> RunReport:
        tables = tables if tables is not None else self.source.list_tables()
        edges = self.source.get_fk_relationships()
        ordered, leftovers = topo_sort_tables(tables, edges)
        load_order = ordered + leftovers  # cycles last (03_cdc_etl.py:254-256)

        report = RunReport()
        if not parallel or self.max_parallel_tables <= 1:
            for t in load_order:
                report.results.append(self.replicate_table(t))
            return report

        # One pool pass over every table (engine improvement over the
        # serial reference): reads, merges and staged writes overlap
        # across FK depths; each swap waits for the lower depths to
        # commit. Submitted by (depth, load order), so every table a
        # commit waits on was dequeued before it: no deadlock, however
        # small the pool.
        depths = topo_depths(tables, edges)
        queue = sorted(load_order, key=depths.__getitem__)
        self._commit_order = _CommitOrder(depths)
        try:
            with ThreadPoolExecutor(max_workers=self.max_parallel_tables) as pool:
                report.results.extend(pool.map(self.replicate_table, queue))
        finally:
            self._commit_order = None
        return report
