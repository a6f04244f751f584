"""SnapshotStore: atomic commit, snapshot isolation, time travel,
copy-on-write merge parity, vacuum retention."""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oracle_to_oracle_data_integration_pipeline_spark.sources.snapshots import SnapshotStore

TS = datetime.datetime

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("val", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
        T.StructField("is_deleted", T.StringType(), False),
    ]
)


@pytest.fixture()
def store(spark, tmp_path):
    return SnapshotStore(spark, str(tmp_path / "warehouse"))


def _rows(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_commit_read_roundtrip_and_versions(spark, store):
    t1 = TS(2024, 1, 1)
    v0 = store.commit(_rows(spark, [(1, "a", t1, None, "N")]), "t")
    v1 = store.commit(_rows(spark, [(1, "a2", t1, None, "N"), (2, "b", t1, None, "N")]), "t")
    assert (v0, v1) == (0, 1)
    assert store.latest_version("t") == 1
    assert {r["val"] for r in store.read("t").collect()} == {"a2", "b"}
    # time travel reaches the old version unchanged
    assert {r["val"] for r in store.read("t", version=0).collect()} == {"a"}
    hist = store.history("t")
    assert [m["version"] for m in hist] == [0, 1]
    assert hist[1]["parent"] == 0


def test_reader_pinned_across_commit(spark, store):
    """Snapshot isolation: a DataFrame resolved before a commit keeps
    reading the OLD version's files after the commit lands."""
    t1 = TS(2024, 1, 1)
    store.commit(_rows(spark, [(1, "old", t1, None, "N")]), "t")
    pinned = store.read("t")
    store.commit(_rows(spark, [(1, "new", t1, None, "N")]), "t")
    assert [r["val"] for r in pinned.collect()] == ["old"]
    assert [r["val"] for r in store.read("t").collect()] == ["new"]


def test_merge_matches_merge_soft_delete(spark, store):
    """Copy-on-write merge through the store == the DataFrame-level
    merge semantics (same rows, same attribution), with the old
    version still readable."""
    from oracle_to_oracle_data_integration_pipeline_spark.operators.cdc import merge_soft_delete

    T1, T2 = TS(2024, 1, 1), TS(2024, 1, 2)
    target = [(1, "a", T1, None, "N"), (2, "b", T1, None, "N"), (3, "c", T1, None, "N")]
    delta = [
        (1, "a2", T1, T2, "N"),   # update
        (3, "c", T1, T2, "Y"),    # soft delete existing
        (5, "e", T2, None, "N"),  # insert
        (98, "x", T2, T2, "Y"),   # dropped delete (tombstone gate)
    ]
    store.commit(_rows(spark, target), "t")
    version, stats = store.merge(_rows(spark, delta), "t", ["id"])
    assert version == 1
    got = {r["id"]: (r["val"], r["is_deleted"]) for r in store.read("t").collect()}
    expect = merge_soft_delete(_rows(spark, target), _rows(spark, delta), ["id"])
    want = {r["id"]: (r["val"], r["is_deleted"]) for r in expect.df.collect()}
    assert got == want == {1: ("a2", "N"), 2: ("b", "N"), 3: ("c", "Y"), 5: ("e", "N")}
    es = expect.stats()
    assert (stats.updated, stats.inserted, stats.dropped_deletes) == (
        es.updated,
        es.inserted,
        es.dropped_deletes,
    )
    # pre-merge state intact for audit/rollback
    assert {r["id"] for r in store.read("t", version=0).collect()} == {1, 2, 3}


def test_merge_runs_no_job_after_the_data_write(spark, store, jobs_of):
    """The merge counts come from the observation the commit's data
    write fills: the join is not run again after the write."""
    T1, T2 = TS(2024, 1, 1), TS(2024, 1, 2)
    store.commit(_rows(spark, [(1, "a", T1, None, "N"), (2, "b", T1, None, "N")]), "t")
    delta = _rows(spark, [(1, "a2", T1, T2, "N"), (5, "e", T2, None, "N"), (98, "x", T2, T2, "Y")])
    (version, stats), jobs = jobs_of(lambda: store.merge(delta, "t", ["id"]))
    assert version == 1
    assert (stats.updated, stats.inserted, stats.dropped_deletes) == (1, 1, 1)
    writes = [j["id"] for j in jobs if j["output_bytes"] > 0]
    assert writes, "no job wrote the new version"
    assert [j["name"] for j in jobs if j["id"] > writes[-1]] == []


def test_commit_is_pointer_swap_only(spark, store):
    """The publish step is one os.replace of _latest: after a commit,
    the pointer is a bare version number and the manifest fully
    describes the snapshot (no partially-visible state to read)."""
    t1 = TS(2024, 1, 1)
    store.commit(_rows(spark, [(1, "a", t1, None, "N")]), "t")
    latest_file = os.path.join(store.root, "t", "_latest")
    assert open(latest_file).read() == "0"
    m = json.load(open(os.path.join(store.root, "t", "_manifests", "0.json")))
    assert m["operation"] == "overwrite" and m["parent"] is None
    assert os.path.isdir(m["data_path"])
    # no temp files left behind
    leftovers = [p for p in os.listdir(os.path.join(store.root, "t")) if p.endswith(".tmp")]
    assert leftovers == []


def test_vacuum_retains_and_fails_loudly(spark, store):
    t1 = TS(2024, 1, 1)
    for i in range(4):
        store.commit(_rows(spark, [(1, f"v{i}", t1, None, "N")]), "t")
    removed = store.vacuum("t", keep_last=2)
    assert removed == [0, 1]
    # retained versions still read
    assert [r["val"] for r in store.read("t", version=2).collect()] == ["v2"]
    assert [r["val"] for r in store.read("t", version=3).collect()] == ["v3"]
    # vacuumed-away versions fail loudly, never read mixed state
    with pytest.raises(FileNotFoundError):
        store.read("t", version=0)


def test_read_empty_table_raises(spark, store):
    with pytest.raises(FileNotFoundError, match="no committed version"):
        store.read("nope")


def test_fixture_scale_merge(spark, store, sf_dir):
    """End-to-end on the fixture: orders slice committed, CDC-shaped
    delta merged, row counts line up with the delta algebra."""
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_totalprice")
        .withColumn("is_deleted", F.lit("N"))
    )
    base = o.where(F.col("o_orderkey") % 3 != 0)
    delta = o.where(F.col("o_orderkey") % 3 == 0).withColumn(
        "is_deleted",
        F.when(F.col("o_orderkey") % 9 == 0, F.lit("Y")).otherwise(F.lit("N")),
    )
    store.commit(base, "orders")
    version, stats = store.merge(delta, "orders", ["o_orderkey"])
    n_base = base.count()
    n_ins = delta.where(F.col("is_deleted") == "N").count()
    got = store.read("orders")
    # inserts (non-tombstone new keys) land; tombstones for unseen keys drop
    assert got.count() == n_base + n_ins
    assert stats.inserted == n_ins
    assert stats.dropped_deletes == delta.count() - n_ins


def test_compact_preserves_rows_and_reduces_files(spark, store):
    """OPTIMIZE is layout-only: identical rows, fewer files, history
    records a 'compact' operation, pinned readers unaffected."""
    t1 = TS(2024, 1, 1)
    # many tiny commits -> fragmented current version via merge chain
    store.commit(_rows(spark, [(i, f"v{i}", t1, None, "N") for i in range(50)]).repartition(8), "t")
    before = store.read("t")
    v = store.compact("t", target_files=2)
    after = store.read("t")
    assert {tuple(r) for r in after.collect()} == {tuple(r) for r in before.collect()}
    import os as _os

    files = [
        f
        for f in _os.listdir(store.manifest("t", v)["data_path"])
        if f.endswith(".parquet")
    ]
    assert len(files) == 2
    assert store.history("t")[-1]["operation"] == "compact"
    # version 0's fragmented layout still readable (time travel)
    assert store.read("t", version=0).count() == 50


def test_concurrent_commits_serialize(spark, store):
    """Four threads commit simultaneously: the advisory table lock
    must serialize them into four DISTINCT dense versions with no
    lost update and no torn manifest — the single-writer property the
    whole commit protocol rests on."""
    from concurrent.futures import ThreadPoolExecutor

    t1 = TS(2024, 1, 1)
    store.commit(_rows(spark, [(0, "seed", t1, None, "N")]), "t")

    def commit_one(i: int) -> int:
        return store.commit(_rows(spark, [(i, f"w{i}", t1, None, "N")]), "t")

    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = sorted(ex.map(commit_one, range(1, 5)))
    assert versions == [1, 2, 3, 4]  # dense, no duplicates, no gaps
    # every version's manifest is intact and readable
    for v in versions:
        m = store.manifest("t", v)
        assert m["version"] == v and m["parent"] == v - 1
        assert store.read("t", version=v).count() == 1
    assert store.latest_version("t") == 4


def test_change_data_feed(spark, store):
    """changes(v0, v1) classifies inserts/updates/deletes exactly and
    drops unchanged rows; re-pulling the same version pair reproduces
    the identical feed (immutability ⇒ replayable CDF)."""
    t1 = TS(2024, 1, 1)
    store.commit(
        _rows(spark, [(1, "a", t1, None, "N"), (2, "b", t1, None, "N"), (3, "c", t1, None, "N")]),
        "t",
    )
    store.commit(
        _rows(spark, [(1, "a", t1, None, "N"), (2, "B2", t1, None, "N"), (4, "d", t1, None, "N")]),
        "t",
    )
    feed = {(r["id"], r["op"]) for r in store.changes("t", 0, 1, ["id"]).collect()}
    assert feed == {(2, "update"), (3, "delete"), (4, "insert")}
    # replayable: identical on a second pull
    again = {(r["id"], r["op"]) for r in store.changes("t", 0, 1, ["id"]).collect()}
    assert again == feed


def test_wap_rejects_and_publishes(spark, store, tmp_path):
    """Write-audit-publish: a batch violating a rule is quarantined
    (pointer untouched, staged files parked), a clean batch publishes
    atomically; audits run on the STAGED files, not the plan."""
    import os as _os

    t1 = TS(2024, 1, 1)
    rules = {
        "null_val": F.col("val").isNull(),
        "bad_flag": ~F.col("is_deleted").isin("N", "Y"),
    }
    ok, v, counts = store.write_audit_publish(
        _rows(spark, [(1, "good", t1, None, "N")]), "t", rules
    )
    assert ok and v == 0 and counts == {"null_val": 0, "bad_flag": 0}

    bad = _rows(spark, [(2, None, t1, None, "N"), (3, "x", t1, None, "?")])
    ok2, v2, counts2 = store.write_audit_publish(bad, "t", rules)
    assert not ok2 and v2 is None
    assert counts2 == {"null_val": 1, "bad_flag": 1}
    # pointer untouched, quarantine populated, table state unchanged
    assert store.latest_version("t") == 0
    qdir = _os.path.join(store.root, "t", "_quarantine")
    assert _os.path.isdir(qdir) and len(_os.listdir(qdir)) == 1
    assert [r["id"] for r in store.read("t").collect()] == [1]

    ok3, v3, _ = store.write_audit_publish(
        _rows(spark, [(5, "also_good", t1, None, "N")]), "t", rules
    )
    assert ok3 and v3 == 1
    assert store.latest_version("t") == 1


def test_restore_is_pointer_only_and_auditable(spark, store):
    """RESTORE re-publishes a historical version as a new commit that
    SHARES the old version's data directory (O(1), no rewrite); the
    bad version stays in history, and vacuum must not delete a data
    dir a restore still references."""
    t1 = TS(2024, 1, 1)
    store.commit(_rows(spark, [(1, "good", t1, None, "N")]), "t")      # v0
    store.commit(_rows(spark, [(1, "BAD", t1, None, "N")]), "t")       # v1
    v = store.restore("t", 0)                                          # v2
    assert v == 2
    assert [r["val"] for r in store.read("t").collect()] == ["good"]
    hist = store.history("t")
    assert hist[-1]["operation"] == "restore(v0)"
    # pointer-only: v2 shares v0's data path
    assert store.manifest("t", 2)["data_path"] == store.manifest("t", 0)["data_path"]
    # the bad version remains auditable until vacuumed
    assert [r["val"] for r in store.read("t", version=1).collect()] == ["BAD"]


def test_history_ignores_inflight_tmp_and_foreign_files(spark, store):
    """history() must see only committed '{N}.json' manifests: an
    in-flight or crash-leftover '{N}.json.tmp' (possibly half-written)
    or a foreign file must not surface phantom versions or parse
    errors — history() is polled concurrently with live commits by
    stream_snapshot_sink's drain loop."""
    t1 = TS(2024, 1, 1)
    store.commit(_rows(spark, [(1, "a", t1, None, "N")]), "t")  # v0
    mdir = os.path.join(store.root, "t", "_manifests")
    tmp = os.path.join(mdir, "1.json.tmp")
    with open(tmp, "w") as f:
        f.write('{"version')  # torn write mid-commit
    with open(os.path.join(mdir, "notes.txt"), "w") as f:
        f.write("not a manifest")
    assert [m["version"] for m in store.history("t")] == [0]
    # vacuum clears the crash-leftover temp (safe: it holds the write
    # lock, so no commit can be in flight)
    store.vacuum("t", keep_last=2)
    assert not os.path.exists(tmp)
    assert os.path.exists(os.path.join(mdir, "0.json"))


def test_wap_double_rejection_distinct_quarantine(spark, store):
    """A rejected batch doesn't consume the version number, so two
    rejections at the same version must park in DISTINCT quarantine
    directories (no nesting, no mixed forensic evidence)."""
    t1 = TS(2024, 1, 1)
    rules = {"null_val": F.col("val").isNull()}
    bad = _rows(spark, [(2, None, t1, None, "N")])
    ok1, _, _ = store.write_audit_publish(bad, "t", rules)
    ok2, _, _ = store.write_audit_publish(bad, "t", rules)
    assert not ok1 and not ok2
    qdir = os.path.join(store.root, "t", "_quarantine")
    entries = sorted(os.listdir(qdir))
    assert entries == ["v0-rejected", "v0-rejected-1"]
    # each quarantine dir holds its own staged files directly (no
    # nested v0-rejected inside v0-rejected)
    for e in entries:
        files = os.listdir(os.path.join(qdir, e))
        assert any(f.endswith(".parquet") for f in files)
        assert not any(f.startswith("v0-rejected") for f in files)
    # pointer never moved
    assert store.latest_version("t") is None


def test_commit_self_heals_after_crashed_commit(spark, store):
    """A commit that died AFTER writing data/v{N} (and possibly its
    manifest) but BEFORE the pointer swap must not wedge the table:
    the next commit at that version clears the uncommitted leftovers
    and succeeds — otherwise the errorifexists data write fails
    forever and the store needs manual surgery."""
    t1 = TS(2024, 1, 1)
    store.commit(_rows(spark, [(1, "v0", t1, None, "N")]), "t")  # v0
    # simulate the crash: orphan data dir + complete unpublished manifest
    orphan = os.path.join(store.root, "t", "data", "v1")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "w") as f:
        f.write("not parquet")
    with open(os.path.join(store.root, "t", "_manifests", "1.json"), "w") as f:
        json.dump({"table": "t", "version": 1, "parent": 0,
                   "operation": "overwrite", "data_path": orphan}, f)
    assert store.latest_version("t") == 0  # pointer never moved
    # the unpublished version is INVISIBLE until the pointer moves:
    # neither history() nor time travel may hand out a version whose
    # data the self-heal below is allowed to delete and re-write
    assert [m["version"] for m in store.history("t")] == [0]
    with pytest.raises(FileNotFoundError, match="not committed"):
        store.read("t", version=1)
    v = store.commit(_rows(spark, [(2, "v1", t1, None, "N")]), "t")
    assert v == 1
    assert [r["val"] for r in store.read("t", version=1).collect()] == ["v1"]
    assert not os.path.exists(os.path.join(orphan, "junk.parquet"))


def test_wap_self_heals_after_crashed_stage(spark, store):
    """A WAP run that died mid-stage (or after the staged→data rename)
    leaves _staging/v{N} / data/v{N} at the unpublished version; the
    next WAP at that version must clear them and publish cleanly."""
    t1 = TS(2024, 1, 1)
    rules = {"null_val": F.col("val").isNull()}
    for stale_rel in ("_staging/v0", "data/v0"):
        d = os.path.join(store.root, "t", stale_rel)
        os.makedirs(d)
        with open(os.path.join(d, "junk.parquet"), "w") as f:
            f.write("x")
    ok, v, counts = store.write_audit_publish(
        _rows(spark, [(1, "good", t1, None, "N")]), "t", rules
    )
    assert ok and v == 0 and counts == {"null_val": 0}
    assert [r["val"] for r in store.read("t").collect()] == ["good"]


def test_vacuum_sweeps_orphan_data_and_staging(spark, store):
    """vacuum() must also reclaim data dirs no retained manifest
    references (abandoned crashed versions) and stale _staging — while
    never touching referenced data or the forensic _quarantine."""
    t1 = TS(2024, 1, 1)
    for i in range(3):
        store.commit(_rows(spark, [(1, f"v{i}", t1, None, "N")]), "t")
    tdir = os.path.join(store.root, "t")
    orphan = os.path.join(tdir, "data", "v9")
    os.makedirs(orphan)
    os.makedirs(os.path.join(tdir, "_staging", "v9"))
    qdir = os.path.join(tdir, "_quarantine", "v0-rejected")
    os.makedirs(qdir)
    removed = store.vacuum("t", keep_last=2)
    assert removed == [0]
    assert not os.path.exists(orphan)
    assert not os.path.exists(os.path.join(tdir, "_staging"))
    assert os.path.isdir(qdir)  # forensic evidence untouched
    # retained versions unaffected
    assert [r["val"] for r in store.read("t", version=1).collect()] == ["v1"]
    assert [r["val"] for r in store.read("t", version=2).collect()] == ["v2"]


def test_vacuum_never_deletes_restore_shared_data(spark, store):
    """A restore commit shares a historical data dir; vacuuming away
    the ORIGINAL version must keep the shared directory alive because
    a retained manifest still references it."""
    t1 = TS(2024, 1, 1)
    store.commit(_rows(spark, [(1, "good", t1, None, "N")]), "t")  # v0
    store.commit(_rows(spark, [(1, "bad", t1, None, "N")]), "t")   # v1
    store.restore("t", 0)                                          # v2 shares v0 data
    removed = store.vacuum("t", keep_last=2)                       # drops v0 manifest
    assert removed == [0]
    # v2 (the restore) must still read — its shared data dir survived
    assert [r["val"] for r in store.read("t").collect()] == ["good"]
    assert [r["val"] for r in store.read("t", version=1).collect()] == ["bad"]
