"""Command-line entry points — parity with the reference's three
scripts, over any parquet directory (JDBC wiring available via
sources/jdbc.py for production deployments):

  prepare-cdc   ≙ scripts/01_prepare_cdc_columns (idempotent CDC
                  column addition; here: schema-evolved copies)
  clone-schema  ≙ scripts/02_clone_schema_structure.py (create empty
                  clones of tables missing in the target; skip
                  existing; per-table error isolation + counts)
  replicate     ≙ scripts/03_cdc_etl.py (incremental watermark-gated
                  soft-delete replication; exit 2 when any table fails)

Usage:
  python -m oracle_to_oracle_data_integration_pipeline_spark.cli replicate \
      --source /root/testdata/sf0.001 --target /tmp/tgt --state /tmp/wm
"""

from __future__ import annotations

import argparse
import sys

from oracle_to_oracle_data_integration_pipeline_spark.catalog import Catalog
from oracle_to_oracle_data_integration_pipeline_spark.operators.watermark import WatermarkStore
from oracle_to_oracle_data_integration_pipeline_spark.plans.pipeline import CdcPipeline, ParquetTargetStore
from oracle_to_oracle_data_integration_pipeline_spark.plans.schema_tools import (
    add_missing_cdc_columns,
    empty_clone,
    has_cdc_columns,
)
from oracle_to_oracle_data_integration_pipeline_spark.session import get_spark


def cmd_prepare_cdc(args) -> int:
    spark = get_spark(app_name="o2o_prepare_cdc")
    cat = Catalog.from_parquet_dir(spark, args.source)
    target = ParquetTargetStore(spark, args.out)
    added = skipped = failed = 0
    for table in cat.list_tables():
        try:
            df = cat.load(table)
            if has_cdc_columns(df):
                skipped += 1  # idempotent re-run (reference :25-31)
                continue
            target.overwrite(table, add_missing_cdc_columns(df))
            added += 1
        except Exception as exc:  # per-table isolation, like the reference loop
            print(f"prepare-cdc: FAILED {table}: {exc}", file=sys.stderr)
            failed += 1
    print(f"prepare-cdc: evolved={added} already-prepared={skipped} failed={failed}")
    return 1 if failed else 0


def cmd_clone_schema(args) -> int:
    spark = get_spark(app_name="o2o_clone_schema")
    cat = Catalog.from_parquet_dir(spark, args.source)
    target = ParquetTargetStore(spark, args.target)
    created = skipped = failed = 0
    for table in cat.list_tables():
        if target.exists(table):  # skip-existing (reference :72-75)
            skipped += 1
            continue
        try:
            target.overwrite(table, empty_clone(cat.load(table)))
            created += 1
        except Exception as exc:  # rollback analog: nothing half-written
            print(f"clone-schema: FAILED {table}: {exc}", file=sys.stderr)
            failed += 1
    print(f"clone-schema: created={created} skipped={skipped} failed={failed}")
    return 1 if failed else 0


def cmd_replicate(args) -> int:
    spark = get_spark(app_name="o2o_replicate")
    cat = Catalog.from_parquet_dir(spark, args.source)
    pipe = CdcPipeline(
        spark,
        cat,
        ParquetTargetStore(spark, args.target),
        WatermarkStore(spark, args.state),
        max_parallel_tables=args.parallel,
    )
    if args.tables is not None and len(args.tables) == 0:
        print("replicate: error: --tables given with no table names", file=sys.stderr)
        return 1
    report = pipe.run(tables=args.tables)
    for r in report.results:
        line = f"replicate: {r.table}: {r.status}"
        if r.status == "replicated":
            line += f" (inserted={r.inserted} updated={r.updated} dropped_deletes={r.dropped_deletes})"
        if r.error:
            line += f" error={r.error}"
        print(line)
    print(
        f"replicate: processed={report.processed} inserted={report.inserted} "
        f"updated={report.updated} skipped={len(report.skipped)} failed={len(report.failed)}"
    )
    if args.report:
        import json

        with open(args.report, "w") as f:
            json.dump(
                {
                    "processed": report.processed,
                    "inserted": report.inserted,
                    "updated": report.updated,
                    "skipped": report.skipped,
                    "failed": report.failed,
                    "tables": [
                        {
                            "table": r.table,
                            "status": r.status,
                            "inserted": r.inserted,
                            "updated": r.updated,
                            "dropped_deletes": r.dropped_deletes,
                            "error": r.error,
                        }
                        for r in report.results
                    ],
                },
                f,
                indent=2,
            )
    return report.exit_code


def cmd_validate(args) -> int:
    """Post-replication reconciliation — the reference README's
    validation queries (source vs target row counts, live rows only on
    the target since soft-deleted rows remain by design). With
    ``--checksum``, row counts are upgraded to the anti-entropy digest
    compare (operators/reconcile.table_checksum_diff): each side
    reduces to bucket digests and only the digests join, so CONTENT
    drift (same count, different values) is caught too — and with
    ``--drill``, mismatched buckets get a row-level diff restricted to
    their slice, printing the drifted keys."""
    if getattr(args, "drill", False) and not getattr(args, "checksum", False):
        print("validate: --drill requires --checksum (nothing flags buckets to drill)")
        return 2
    spark = get_spark(app_name="o2o_validate")
    cat = Catalog.from_parquet_dir(spark, args.source)
    target = ParquetTargetStore(spark, args.target)
    from pyspark.sql import functions as F

    mismatches = 0
    for table in cat.list_tables():
        if not target.exists(table):
            print(f"validate: {table}: MISSING in target")
            mismatches += 1
            continue
        src = cat.load(table)
        pk = cat.get_pk_columns(table)
        # live source keys (latest version per PK, not soft-deleted)
        if {c.lower() for c in src.columns} >= {"created_at", "updated_at", "is_deleted"} and pk:
            from oracle_to_oracle_data_integration_pipeline_spark.operators.cdc import latest_per_key

            live_src_df = latest_per_key(src, pk).filter(F.col("is_deleted") == "N")
            live_tgt_df = target.read(table).filter(F.col("is_deleted") == "N")
        else:
            live_src_df = src
            live_tgt_df = target.read(table)
        if getattr(args, "checksum", False) and not pk:
            # be loud about the downgrade: the user asked for a content
            # digest, but without a PK there is no key to bucket on —
            # count compare is all that can run, and drift that
            # preserves counts will NOT be caught for this table
            print(
                f"validate: {table}: no PK registered — --checksum "
                "falls back to count compare (content drift undetected)"
            )
        if getattr(args, "checksum", False) and pk:
            from oracle_to_oracle_data_integration_pipeline_spark.operators.reconcile import (
                bucket_row_diff,
                table_checksum_diff,
            )

            # digest every column both sides share (audit columns
            # included: this pipeline replicates created_at/updated_at
            # verbatim from the source — nothing is target-stamped —
            # so drift in them is real drift; both sides are Spark, so
            # timestamp stringification is consistent)
            shared = [
                c for c in live_src_df.columns
                if c in set(live_tgt_df.columns) and c not in pk
            ]
            diff = table_checksum_diff(
                live_src_df, live_tgt_df, pk, shared
            ).collect()
            bad = sorted(r["bucket"] for r in diff if not r["digests_match"])
            n_src = sum(r["n_source"] for r in diff)
            n_tgt = sum(r["n_target"] for r in diff)
            status = "OK" if not bad else "MISMATCH"
            if bad:
                mismatches += 1
            print(
                f"validate: {table}: source_live={n_src} target_live={n_tgt} "
                f"buckets_drifted={len(bad)}/{len(diff)} {status}"
            )
            if bad and getattr(args, "drill", False):
                for row in bucket_row_diff(
                    live_src_df, live_tgt_df, pk, shared, buckets=bad
                ).collect():
                    key = ", ".join(f"{k}={row[k]}" for k in pk)
                    print(f"validate:   drift {table}: {key} [{row['status']}]")
        else:
            live_src = live_src_df.count()
            live_tgt = live_tgt_df.count()
            status = "OK" if live_src == live_tgt else "MISMATCH"
            if status != "OK":
                mismatches += 1
            print(f"validate: {table}: source_live={live_src} target_live={live_tgt} {status}")
    print(f"validate: mismatches={mismatches}")
    return 1 if mismatches else 0


def cmd_compact(args) -> int:
    """Maintenance compaction: rewrite fragmented target tables to
    right-sized files (append-heavy CDC runs accumulate one file set
    per run; readers slow down long before data size is the problem)."""
    import os

    from oracle_to_oracle_data_integration_pipeline_spark.sources.locking import is_swap_sibling
    from oracle_to_oracle_data_integration_pipeline_spark.sources.parquet import ParquetSink

    spark = get_spark(app_name="o2o_compact")
    sink = ParquetSink(args.target)
    # a copy a killed swap left staged or parked is not a table; the
    # compact of its table sweeps it
    tables = args.tables or sorted(
        d for d in os.listdir(args.target)
        if os.path.isdir(os.path.join(args.target, d))
        and not d.startswith((".", "_"))
        and not is_swap_sibling(d)
    )
    failed = 0
    for table in tables:
        # per-table isolation, like replicate: one hive-partitioned (or
        # otherwise uncompactable) table must not abort the rest of the
        # maintenance run
        try:
            before = sink.compact(
                spark, table, target_files=args.files, cluster_by=args.cluster_by
            )
        except Exception as e:
            failed += 1
            print(f"compact: {table}: FAILED: {e}")
            continue
        print(f"compact: {table}: {before} -> {args.files} files")
    return 1 if failed else 0


def cmd_snapshot(args) -> int:
    """Snapshot-store operations (sources/snapshots.py): history,
    time-travel read, O(1) restore, and vacuum — the table-format
    runbook verbs (Delta's DESCRIBE HISTORY / RESTORE / VACUUM) on
    plain parquet."""
    from oracle_to_oracle_data_integration_pipeline_spark.sources.snapshots import SnapshotStore

    spark = get_spark(app_name="o2o_snapshot")
    store = SnapshotStore(spark, args.root)
    if args.action == "history":
        for m in store.history(args.table):
            print(f"v{m['version']}: parent={m['parent']} op={m['operation']}")
        return 0
    if args.action == "show":
        df = store.read(args.table, version=args.version)
        print(f"rows={df.count()} schema={df.schema.simpleString()}")
        return 0
    if args.action == "restore":
        if args.version is None:
            print("snapshot restore: --version required", file=sys.stderr)
            return 1
        v = store.restore(args.table, args.version)
        print(f"restored {args.table} v{args.version} as v{v}")
        return 0
    if args.action == "vacuum":
        removed = store.vacuum(args.table, keep_last=args.keep_last)
        print(f"vacuumed versions: {removed}")
        return 0
    print(f"snapshot: unknown action {args.action}", file=sys.stderr)
    return 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="o2o-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p1 = sub.add_parser("prepare-cdc", help="add missing CDC columns (idempotent)")
    p1.add_argument("--source", required=True)
    p1.add_argument("--out", required=True)
    p1.set_defaults(fn=cmd_prepare_cdc)

    p2 = sub.add_parser("clone-schema", help="create empty clones of missing tables")
    p2.add_argument("--source", required=True)
    p2.add_argument("--target", required=True)
    p2.set_defaults(fn=cmd_clone_schema)

    p3 = sub.add_parser("replicate", help="incremental CDC replication run")
    p3.add_argument("--source", required=True)
    p3.add_argument("--target", required=True)
    p3.add_argument("--state", required=True)
    p3.add_argument("--parallel", type=int, default=4)
    p3.add_argument("--tables", nargs="*", default=None)
    p3.add_argument("--report", default=None, help="write a JSON run report to this path")
    p3.set_defaults(fn=cmd_replicate)

    p4 = sub.add_parser("validate", help="reconcile live row counts source vs target")
    p4.add_argument("--source", required=True)
    p4.add_argument("--target", required=True)
    p4.add_argument(
        "--checksum", action="store_true",
        help="upgrade count compare to anti-entropy bucket digests (catches content drift)",
    )
    p4.add_argument(
        "--drill", action="store_true",
        help="with --checksum: row-level diff of mismatched buckets (prints drifted keys)",
    )
    p4.set_defaults(fn=cmd_validate)

    p5 = sub.add_parser("compact", help="rewrite fragmented target tables to N files")
    p5.add_argument("--target", required=True)
    p5.add_argument("--files", type=int, default=8)
    p5.add_argument("--tables", nargs="*", default=None)
    p5.add_argument(
        "--cluster-by", nargs="*", default=None,
        help="range-cluster the rewrite on these columns (prunable footers)",
    )
    p5.set_defaults(fn=cmd_compact)

    p6 = sub.add_parser(
        "snapshot", help="snapshot-store history / show / restore / vacuum"
    )
    p6.add_argument("action", choices=["history", "show", "restore", "vacuum"])
    p6.add_argument("--root", required=True, help="snapshot warehouse root")
    p6.add_argument("--table", required=True)
    p6.add_argument("--version", type=int, default=None)
    p6.add_argument("--keep-last", type=int, default=2)
    p6.set_defaults(fn=cmd_snapshot)

    args = ap.parse_args(argv)
    try:
        return args.fn(args)
    except FileNotFoundError as exc:
        print(f"{ap.prog}: error: {exc}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
