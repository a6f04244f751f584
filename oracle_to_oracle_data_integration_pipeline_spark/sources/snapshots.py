"""Manifest-based snapshot store — minimal table-format semantics
(atomic commit, snapshot isolation, time travel) on plain parquet.

The reference's production merge is atomic inside Oracle
(`/root/reference/scripts/03_cdc_etl.py:145-161` MERGE). The engine's
parquet target, replaced by one stage-and-swap per table
(`sources/locking.py` ``swap_dir``), is single-writer-correct but a
reader racing the swap's two renames can observe ENOENT, and there is
no history. This
store closes both gaps the way real table formats (Delta/Iceberg) do,
reduced to the essential mechanism:

- **data is immutable**: every commit writes a NEW version directory
  (``data/v{N}/``); nothing live is ever rewritten or deleted.
- **a commit is one atomic pointer swap** (``_publish``, shared by
  commit, write-audit-publish and restore): the manifest
  (``_manifests/{N}.json``, listing the version's data path and
  lineage) is written first, then ``_latest`` is replaced via
  write-temp + ``os.replace`` — POSIX-atomic, so every reader sees
  either the old or the new version, never a partial state.
- **readers are pinned**: a reader resolves ``_latest`` (or an
  explicit version) to a manifest ONCE and scans immutable files; a
  concurrent commit cannot change what it reads mid-query — snapshot
  isolation without any reader lock.
- **time travel**: any retained version is readable by number.
- **vacuum** deletes version directories older than the retention
  point — the only destructive operation, and the reason readers of
  vacuumed-away versions fail loudly (manifest gone) instead of
  silently reading mixed state.

Writers serialize through the same advisory lock as the swap store
(single-writer per table — the property flock can actually provide);
version numbers are dense integers so a lost-update (two writers
committing the same next-version) is structurally impossible under
the lock.

At 100 TB the mechanism is identical — manifests stay O(1) here by
listing a directory rather than every file; a production format lists
files + column stats to get scan pruning, which Spark re-derives from
parquet footers here.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from oracle_to_oracle_data_integration_pipeline_spark.sources.locking import table_write_lock


class SnapshotStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- layout -----------------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str, version: int) -> str:
        return os.path.join(self._tdir(table), "_manifests", f"{version}.json")

    def _latest_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_latest")

    def _data_path(self, table: str, version: int) -> str:
        return os.path.join(self._tdir(table), "data", f"v{version}")

    # -- read side ----------------------------------------------------
    def latest_version(self, table: str) -> int | None:
        try:
            with open(self._latest_path(table)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def manifest(self, table: str, version: int) -> dict:
        # A manifest file can exist for a version that was never
        # PUBLISHED (commit crashed between the manifest write and the
        # pointer swap). The commit point is the pointer, so anything
        # beyond it is uncommitted: refusing here keeps read()/
        # changes()/history() from handing out a version whose data
        # the next commit's self-heal may legitimately delete and
        # re-write with different contents.
        latest = self.latest_version(table)
        if latest is None or version > latest:
            raise FileNotFoundError(
                f"version {version} of table {table!r} is not committed"
                f" (latest published: {latest})"
            )
        with open(self._manifest_path(table, version)) as f:
            return json.load(f)

    def read(self, table: str, version: int | None = None) -> DataFrame:
        """Read a pinned snapshot: latest by default, any retained
        version by number (time travel). The manifest is resolved once
        here — a commit racing this read cannot change the files the
        returned DataFrame scans."""
        if version is None:
            version = self.latest_version(table)
            if version is None:
                raise FileNotFoundError(f"no committed version for table {table!r}")
        m = self.manifest(table, version)
        return self.spark.read.parquet(m["data_path"])

    def history(self, table: str) -> list[dict]:
        mdir = os.path.join(self._tdir(table), "_manifests")
        if not os.path.isdir(mdir):
            return []
        # Only exact committed manifest names. An in-flight or
        # crash-leftover '{N}.json.tmp' must be invisible here: parsing
        # it would surface a phantom/duplicate version (and a
        # JSONDecodeError on a half-written temp), and history() is
        # polled concurrently with live commits (stream_snapshot_sink).
        # A COMPLETE manifest beyond the published pointer is equally
        # uncommitted (crash between manifest write and pointer swap)
        # — the pointer is the commit point, so it is filtered too.
        latest = self.latest_version(table)
        if latest is None:
            return []
        names = [
            n
            for n in os.listdir(mdir)
            if re.fullmatch(r"\d+\.json", n)
            and int(n.split(".")[0]) <= latest
        ]
        out = []
        for name in sorted(names, key=lambda n: int(n.split(".")[0])):
            with open(os.path.join(mdir, name)) as f:
                out.append(json.load(f))
        return out

    # -- write side ---------------------------------------------------
    def commit(self, df: DataFrame, table: str, operation: str = "overwrite") -> int:
        """Write ``df`` as the next version and atomically publish it.
        Returns the committed version number."""
        with table_write_lock(self._tdir(table)):
            return self._commit_locked(df, table, operation)

    def _commit_locked(self, df: DataFrame, table: str, operation: str) -> int:
        prev = self.latest_version(table)
        version = 0 if prev is None else prev + 1
        data_path = self._data_path(table, version)
        self._heal_unpublished(table, version)
        df.write.mode("errorifexists").parquet(data_path)  # immutable data
        return self._publish(table, version, prev, operation, data_path)

    def _heal_unpublished(self, table: str, version: int) -> None:
        """CRASH SELF-HEAL: a commit or WAP run that died between its
        data write and the pointer swap leaves an orphaned
        ``data/v{N}``, ``_staging/v{N}`` and/or a complete-but-
        unpublished manifest at exactly the next version — without
        cleanup the errorifexists write would fail FOREVER and wedge
        the table. Called under the write lock, where anything beyond
        the published pointer is uncommitted garbage: no manifest <=
        prev can reference ``data/v{N}`` (data dirs are created only by
        the commit of that version), so removal is safe."""
        staged = os.path.join(self._tdir(table), "_staging", f"v{version}")
        for stale in (staged, self._data_path(table, version)):
            if os.path.exists(stale):
                shutil.rmtree(stale)
        if os.path.exists(self._manifest_path(table, version)):
            os.remove(self._manifest_path(table, version))

    def _publish(
        self, table: str, version: int, prev: int | None, operation: str, data_path: str
    ) -> int:
        """THE commit of ``version``: its manifest, then one atomic
        pointer swap of ``_latest``. Each file is written to a temp
        name and ``os.replace``d, so readers only ever see whole
        files."""
        m = {
            "table": table,
            "version": version,
            "parent": prev,
            "operation": operation,
            "data_path": data_path,
        }
        mpath = self._manifest_path(table, version)
        os.makedirs(os.path.dirname(mpath), exist_ok=True)
        for path, text in ((mpath, json.dumps(m)), (self._latest_path(table), str(version))):
            with open(path + ".tmp", "w") as f:
                f.write(text)
            os.replace(path + ".tmp", path)
        return version

    def merge(
        self,
        delta: DataFrame,
        table: str,
        keys: list[str],
        strategy: str = "shuffle",
    ):
        """Copy-on-write MERGE: read the current snapshot, apply the
        engine's soft-delete merge semantics (operators/cdc.py —
        identical rows to the reference's Oracle MERGE, pinned by
        tests), commit the result as a new version. Readers of the old
        version are unaffected; the commit point is the pointer swap.
        Returns (version, MergeStats): the commit's data write fills
        the merge observation, so the join runs once."""
        from oracle_to_oracle_data_integration_pipeline_spark.operators.cdc import (
            merge_soft_delete,
        )

        with table_write_lock(self._tdir(table)):
            target = self.read(table)
            res = merge_soft_delete(target, delta, keys, strategy=strategy)
            version = self._commit_locked(res.df, table, operation="merge")
        return version, res.stats()

    def vacuum(self, table: str, keep_last: int = 2) -> list[int]:
        """Drop all but the newest ``keep_last`` versions (data +
        manifest). Returns the removed version numbers. The only
        destructive operation in the store — time travel reaches
        exactly the versions vacuum has retained."""
        with table_write_lock(self._tdir(table)):
            latest = self.latest_version(table)
            if latest is None:
                return []
            hist = self.history(table)
            # restore() commits SHARE an older version's data dir —
            # a data path stays on disk while ANY retained manifest
            # references it, even if its original version is dropped
            keep_paths = {
                m["data_path"] for m in hist if m["version"] > latest - keep_last
            }
            removed = []
            for m in hist:
                v = m["version"]
                if v <= latest - keep_last:
                    if m["data_path"] not in keep_paths:
                        shutil.rmtree(m["data_path"], ignore_errors=True)
                    os.remove(self._manifest_path(table, v))
                    removed.append(v)
            # crash-leftover temp manifests are garbage once we hold
            # the write lock (no in-flight commit can exist under it)
            mdir = os.path.join(self._tdir(table), "_manifests")
            for name in os.listdir(mdir):
                if name.endswith(".tmp"):
                    os.remove(os.path.join(mdir, name))
            # orphan data sweep: a crashed commit can leave a data/v{N}
            # no manifest references (the commit path self-heals its
            # OWN version on retry, but an abandoned higher version or
            # a crashed WAP publish would leak forever). Under the
            # lock, any data dir outside the retained manifests'
            # data_path set is unreachable — remove it. Liveness is
            # decided by directory NAME, not raw path string: a
            # manifest written through a relative root / symlinked
            # mount spells the same physical dir differently, and a
            # string compare would then condemn every LIVE version.
            # Names are unique per table (v{N}), so this is exact.
            referenced = {
                os.path.basename(m["data_path"].rstrip("/"))
                for m in self.history(table)
            }
            ddir = os.path.join(self._tdir(table), "data")
            if os.path.isdir(ddir):
                for name in os.listdir(ddir):
                    if name not in referenced:
                        shutil.rmtree(
                            os.path.join(ddir, name), ignore_errors=True
                        )
            # Ditto stale staging (never forensic, unlike _quarantine).
            sdir = os.path.join(self._tdir(table), "_staging")
            if os.path.isdir(sdir):
                shutil.rmtree(sdir, ignore_errors=True)
            return removed

    def compact(self, table: str, target_files: int = 4) -> int:
        """OPTIMIZE: rewrite the CURRENT snapshot's data as one new
        version with ``target_files`` right-sized files. Pure layout —
        rows are byte-identical; concurrent readers keep their pinned
        (uncompacted) version, and history records the operation so
        time travel distinguishes layout commits from data commits.
        The answer to the small-files debt every per-batch streaming
        commit accrues (pair with :meth:`vacuum` to drop the
        superseded fragments)."""
        with table_write_lock(self._tdir(table)):
            cur = self.read(table).repartition(target_files)
            return self._commit_locked(cur, table, operation="compact")

    def changes(
        self,
        table: str,
        v_from: int,
        v_to: int,
        keys: list[str],
    ) -> DataFrame:
        """CHANGE DATA FEED: the row-level delta between two retained
        versions — (key, op ∈ insert/update/delete). Because versions
        are immutable, the feed is reproducible forever (same two
        versions ⇒ same feed), which is what lets downstream
        incremental consumers (the ivm_join delta algebra, a replica,
        an index) re-pull after a crash instead of trusting a one-shot
        stream. Comparison digests every non-key column through the
        reconcile row-digest idiom (length-prefixed md5 — delimiter-
        injection-safe), so 'update' means ANY non-key column moved.

        Scale: one keyed full-outer join of the two versions with
        per-row digests computed in the scan projection; unchanged
        rows drop before anything else happens.
        """
        from pyspark.sql import functions as F

        from oracle_to_oracle_data_integration_pipeline_spark.operators.reconcile import (
            _row_digest,
        )

        old = self.read(table, version=v_from)
        new = self.read(table, version=v_to)
        val_cols = [c for c in new.columns if c not in keys]
        o = old.select(*keys, _row_digest(val_cols).alias("_od"))
        n = new.select(*keys, _row_digest(val_cols).alias("_nd"))
        j = o.join(n, keys, "full_outer")
        op = (
            F.when(F.col("_od").isNull(), F.lit("insert"))
            .when(F.col("_nd").isNull(), F.lit("delete"))
            .when(F.col("_od") != F.col("_nd"), F.lit("update"))
        )
        return (
            j.select(*keys, op.alias("op"))
            .where(F.col("op").isNotNull())
        )

    def write_audit_publish(
        self,
        df: DataFrame,
        table: str,
        rules: dict,
    ):
        """WRITE-AUDIT-PUBLISH: stage the batch as an unpublished data
        directory, audit WHAT WAS WRITTEN (the staged files re-read —
        never the logical plan, which could differ from the bytes),
        and only then publish with the atomic pointer swap. A failing
        audit leaves the pointer untouched and parks the staged files
        under ``_quarantine/`` for forensics — readers never saw
        anything. ``rules`` maps rule name → boolean VIOLATION column.

        Returns (published: bool, version | None, {rule: violations}).
        """
        with table_write_lock(self._tdir(table)):
            prev = self.latest_version(table)
            version = 0 if prev is None else prev + 1
            tdir = self._tdir(table)
            staged = os.path.join(tdir, "_staging", f"v{version}")
            data_path = self._data_path(table, version)
            self._heal_unpublished(table, version)
            df.write.mode("errorifexists").parquet(staged)
            back = self.spark.read.parquet(staged)
            counts = {
                name: back.where(cond).count() for name, cond in rules.items()
            }
            if any(counts.values()):
                qdir = os.path.join(tdir, "_quarantine")
                os.makedirs(qdir, exist_ok=True)
                # A rejected batch does NOT consume the version number,
                # so a second rejection at the same version must land in
                # a fresh directory — probe for a free attempt-suffixed
                # name instead of letting shutil.move nest into an
                # existing destination and mix forensic evidence.
                dest = os.path.join(qdir, f"v{version}-rejected")
                attempt = 1
                while os.path.exists(dest):
                    dest = os.path.join(qdir, f"v{version}-rejected-{attempt}")
                    attempt += 1
                shutil.move(staged, dest)
                return False, None, counts
            os.makedirs(os.path.dirname(data_path), exist_ok=True)
            os.replace(staged, data_path)
            return True, self._publish(table, version, prev, "wap_publish", data_path), counts

    def restore(self, table: str, version: int) -> int:
        """RESTORE: make a retained historical version current again —
        as a NEW commit whose manifest points at the OLD version's
        immutable data directory (O(1): no data moves, no rewrite; the
        bad versions stay in history for forensics until vacuum).
        The undo button every bad-deploy runbook needs, and the reason
        immutable versions beat in-place mutation.
        """
        with table_write_lock(self._tdir(table)):
            src = self.manifest(table, version)  # raises if vacuumed away
            prev = self.latest_version(table)
            new_v = 0 if prev is None else prev + 1
            return self._publish(table, new_v, prev, f"restore(v{version})", src["data_path"])
