"""End-to-end CLI tests: the five subcommands against tmp parquet
dirs — the reference's three scripts (prepare-cdc, clone-schema,
replicate) plus validate and compact, including the per-table error
isolation the maintenance loops promise."""

from __future__ import annotations

import datetime
import os

from oracle_to_oracle_data_integration_pipeline_spark.cli import main

T1 = datetime.datetime(2024, 1, 1)
T2 = datetime.datetime(2024, 1, 2)

# synthetic tables wear fixture names so the CLI's PK registry
# (catalog.FIXTURE_PKS) resolves their keys: events -> event_id,
# documents -> doc_id
EV_SCHEMA = (
    "event_id long, val string, created_at timestamp, updated_at timestamp, is_deleted string"
)
DOC_SCHEMA = (
    "doc_id long, val string, created_at timestamp, updated_at timestamp, is_deleted string"
)


def _single_file(spark, df, path):
    """Fixture-style single parquet FILE (Spark writes directories;
    from_parquet_dir maps bare files to fixture table names).
    Timestamps coerced to µs like the real fixtures — pandas' default
    ns unit would be read back as bigint under the session's
    nanosAsLong conf."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(df.toPandas()), path, coerce_timestamps="us"
    )


def _write_cdc_source(spark, src):
    _single_file(
        spark,
        spark.createDataFrame(
            [(1, "a", T1, None, "N"), (2, "b", T1, T2, "N"), (3, "gone", T1, T2, "Y")],
            EV_SCHEMA,
        ),
        f"{src}/events.parquet",
    )
    _single_file(
        spark,
        spark.createDataFrame([(10, "x", T1, None, "N")], DOC_SCHEMA),
        f"{src}/documents.parquet",
    )


def test_prepare_cdc_evolves_and_is_idempotent(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    _single_file(
        spark,
        spark.createDataFrame([(1, "a")], "id long, val string"),
        f"{src}/plain.parquet",
    )
    assert main(["prepare-cdc", "--source", src, "--out", out]) == 0
    evolved = spark.read.parquet(f"{out}/plain")
    assert {"created_at", "updated_at", "is_deleted"} <= set(evolved.columns)
    # second run over the evolved output: everything already prepared
    assert main(["prepare-cdc", "--source", out, "--out", str(tmp_path / "out2")]) == 0


def test_clone_schema_creates_empty_then_skips(spark, tmp_path):
    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    os.makedirs(src)
    _write_cdc_source(spark, src)
    assert main(["clone-schema", "--source", src, "--target", tgt]) == 0
    clone = spark.read.parquet(f"{tgt}/events")
    assert clone.count() == 0
    assert set(clone.columns) == {"event_id", "val", "created_at", "updated_at", "is_deleted"}
    # re-run: skip-existing, still rc 0
    assert main(["clone-schema", "--source", src, "--target", tgt]) == 0


def test_replicate_then_validate_roundtrip(spark, tmp_path):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    state = str(tmp_path / "wm")
    report = str(tmp_path / "report.json")
    os.makedirs(src)
    _write_cdc_source(spark, src)
    rc = main(
        ["replicate", "--source", src, "--target", tgt, "--state", state,
         "--report", report]
    )
    assert rc == 0
    got = {r["event_id"]: r["is_deleted"] for r in spark.read.parquet(f"{tgt}/events").collect()}
    assert got == {1: "N", 2: "N"}  # pre-deleted key=3 gated out
    import json

    rep = json.loads(open(report).read())
    assert rep["failed"] == []
    # reconciliation agrees
    assert main(["validate", "--source", src, "--target", tgt]) == 0


def test_compact_isolates_broken_table(spark, tmp_path):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    os.makedirs(src)
    _write_cdc_source(spark, src)
    assert main(["replicate", "--source", src, "--target", tgt,
                 "--state", str(tmp_path / "wm")]) == 0
    # plant an uncompactable "table": a directory containing garbage
    bad = os.path.join(tgt, "broken")
    os.makedirs(bad)
    open(os.path.join(bad, "part-00000.parquet"), "w").write("not parquet")
    rc = main(["compact", "--target", tgt, "--files", "1"])
    assert rc == 1  # failure reported...
    # ...but the healthy tables were still compacted and stay readable
    assert spark.read.parquet(f"{tgt}/events").count() == 2
    assert spark.read.parquet(f"{tgt}/documents").count() == 1


def test_compact_skips_and_sweeps_staging_siblings(spark, tmp_path):
    """A staged ``<table>.tmp-*`` copy left by a killed swap is not a
    table: compact neither lists it nor leaves it behind."""
    import shutil

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    os.makedirs(src)
    _write_cdc_source(spark, src)
    assert main(["replicate", "--source", src, "--target", tgt,
                 "--state", str(tmp_path / "wm")]) == 0
    shutil.copytree(f"{tgt}/events", f"{tgt}/events.tmp-0badc0de")
    assert main(["compact", "--target", tgt, "--files", "1"]) == 0
    assert not [n for n in os.listdir(tgt) if n.startswith("events.") and n != "events.lock"]
    parts = [f for f in os.listdir(f"{tgt}/events") if f.endswith(".parquet")]
    assert len(parts) == 1
    assert spark.read.parquet(f"{tgt}/events").count() == 2


def test_validate_checksum_catches_content_drift(spark, tmp_path, capsys):
    """--checksum upgrades count reconciliation to digest compare:
    counts equal but one value drifted on the target -> MISMATCH, and
    --drill names the drifted key."""
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    state = str(tmp_path / "wm")
    os.makedirs(src)
    _write_cdc_source(spark, src)
    assert main(["replicate", "--source", src, "--target", tgt, "--state", state]) == 0
    assert main(["validate", "--source", src, "--target", tgt, "--checksum"]) == 0

    # corrupt one target value (row count unchanged -> plain validate OK)
    ev = spark.read.parquet(f"{tgt}/events").collect()
    rows = [
        (r["event_id"], "CORRUPTED" if r["event_id"] == 2 else r["val"],
         r["created_at"], r["updated_at"], r["is_deleted"])
        for r in ev
    ]
    corrupted = spark.createDataFrame(rows, spark.read.parquet(f"{tgt}/events").schema)
    corrupted.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "ev2"))
    import shutil as _sh

    _sh.rmtree(f"{tgt}/events")
    _sh.move(str(tmp_path / "ev2"), f"{tgt}/events")

    assert main(["validate", "--source", src, "--target", tgt]) == 0  # counts still agree
    rc = main(["validate", "--source", src, "--target", tgt, "--checksum", "--drill"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "MISMATCH" in out
    assert "event_id=2 [changed]" in out


def test_validate_drill_without_checksum_is_an_error(capsys):
    rc = main(["validate", "--source", "/nonexistent", "--target", "/nonexistent",
               "--drill"])
    out = capsys.readouterr().out
    assert rc == 2
    assert "--drill requires --checksum" in out


def test_validate_checksum_catches_audit_column_drift(spark, tmp_path, capsys):
    """created_at/updated_at replicate verbatim in this pipeline, so
    the digest must cover them: a target whose created_at was
    re-stamped (classic apply-time bug) has to flag MISMATCH even
    though every business column and the row counts agree."""
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    state = str(tmp_path / "wm")
    os.makedirs(src)
    _write_cdc_source(spark, src)
    assert main(["replicate", "--source", src, "--target", tgt, "--state", state]) == 0

    ev_schema = spark.read.parquet(f"{tgt}/events").schema
    rows = [
        (r["event_id"], r["val"],
         r["created_at"].replace(year=2031) if r["event_id"] == 2 else r["created_at"],
         r["updated_at"], r["is_deleted"])
        for r in spark.read.parquet(f"{tgt}/events").collect()
    ]
    corrupted = spark.createDataFrame(rows, ev_schema)
    corrupted.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "ev2"))
    import shutil as _sh

    _sh.rmtree(f"{tgt}/events")
    _sh.move(str(tmp_path / "ev2"), f"{tgt}/events")

    assert main(["validate", "--source", src, "--target", tgt]) == 0  # counts agree
    rc = main(["validate", "--source", src, "--target", tgt, "--checksum", "--drill"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "event_id=2 [changed]" in out


def test_cli_snapshot_verbs(spark, tmp_path, capsys):
    """history / show / restore / vacuum through the CLI against a
    real store."""
    from oracle_to_oracle_data_integration_pipeline_spark.cli import main
    from oracle_to_oracle_data_integration_pipeline_spark.sources.snapshots import SnapshotStore

    root = str(tmp_path / "wh")
    store = SnapshotStore(spark, root)
    store.commit(spark.createDataFrame([(1, "a")], "id long, v string"), "t")
    store.commit(spark.createDataFrame([(1, "b")], "id long, v string"), "t")

    assert main(["snapshot", "history", "--root", root, "--table", "t"]) == 0
    out = capsys.readouterr().out
    assert "v0:" in out and "v1:" in out

    assert main(["snapshot", "show", "--root", root, "--table", "t"]) == 0
    assert "rows=1" in capsys.readouterr().out

    assert main(
        ["snapshot", "restore", "--root", root, "--table", "t", "--version", "0"]
    ) == 0
    assert "as v2" in capsys.readouterr().out
    assert [r["v"] for r in store.read("t").collect()] == ["a"]

    assert main(
        ["snapshot", "vacuum", "--root", root, "--table", "t", "--keep-last", "2"]
    ) == 0
    assert "vacuumed versions: [0]" in capsys.readouterr().out
