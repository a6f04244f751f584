"""End-to-end replication pipeline tests: first-run full load,
incremental run, soft deletes, watermark advance, empty-delta
short-circuit, per-table error isolation — the reference main-loop
semantics (`/root/reference/scripts/03_cdc_etl.py:238-379`)."""

from __future__ import annotations

import datetime
import os
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oracle_to_oracle_data_integration_pipeline_spark.catalog import Catalog, TableMeta
from oracle_to_oracle_data_integration_pipeline_spark.operators.watermark import WatermarkStore
from oracle_to_oracle_data_integration_pipeline_spark.plans import pipeline
from oracle_to_oracle_data_integration_pipeline_spark.plans.pipeline import (
    CdcPipeline,
    ParquetTargetStore,
)

TS = datetime.datetime
T1, T2, T3 = TS(2024, 1, 1), TS(2024, 1, 2), TS(2024, 1, 3)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("val", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
        T.StructField("is_deleted", T.StringType(), False),
    ]
)


def build(spark, tmp, rows, table="t1", pk=("id",)):
    cat = Catalog(spark)
    cat.put(table, spark.createDataFrame(rows, SCHEMA), pk=list(pk))
    target = ParquetTargetStore(spark, f"{tmp}/target")
    wm = WatermarkStore(spark, f"{tmp}/wm")
    return cat, CdcPipeline(spark, cat, target, wm, max_parallel_tables=1)


def target_map(pipe, table="t1"):
    return {r["id"]: (r["val"], r["is_deleted"]) for r in pipe.target.read(table).collect()}


def test_first_run_full_load_drops_deleted(spark, tmp_path):
    rows = [
        (1, "a", T1, None, "N"),
        (2, "b", T1, None, "N"),
        (3, "c", T1, T2, "Y"),  # pre-deleted: never lands (insert gate)
    ]
    cat, pipe = build(spark, tmp_path, rows)
    rep = pipe.run()
    assert rep.exit_code == 0
    [res] = [r for r in rep.results if r.table == "t1"]
    assert res.status == "replicated"
    assert (res.inserted, res.updated, res.dropped_deletes) == (2, 0, 1)
    assert target_map(pipe) == {1: ("a", "N"), 2: ("b", "N")}
    assert pipe.watermarks.get("t1") == T2


def test_incremental_run_and_watermark(spark, tmp_path):
    rows = [(1, "a", T1, None, "N"), (2, "b", T1, None, "N")]
    cat, pipe = build(spark, tmp_path, rows)
    pipe.run()
    assert pipe.watermarks.get("t1") == T1

    # second batch: update row 1, soft-delete row 2, insert row 4
    rows2 = rows + []
    cat.put(
        "t1",
        pipe.spark.createDataFrame(
            [
                (1, "a2", T1, T2, "N"),
                (2, "b", T1, T3, "Y"),
                (4, "d", T2, None, "N"),
                (9, "stale", T1, None, "N"),  # unchanged: below watermark
            ],
            SCHEMA,
        ),
        pk=["id"],
    )
    rep = pipe.run()
    [res] = [r for r in rep.results if r.table == "t1"]
    assert (res.inserted, res.updated) == (1, 2)
    assert target_map(pipe) == {1: ("a2", "N"), 2: ("b", "Y"), 4: ("d", "N")}
    assert pipe.watermarks.get("t1") == T3


def test_empty_delta_short_circuit(spark, tmp_path):
    rows = [(1, "a", T1, None, "N")]
    cat, pipe = build(spark, tmp_path, rows)
    pipe.run()
    rep2 = pipe.run()  # nothing changed since watermark
    [res] = [r for r in rep2.results if r.table == "t1"]
    assert res.status == "empty_delta"
    assert pipe.watermarks.get("t1") == T1  # unchanged


def test_skip_no_pk(spark, tmp_path):
    cat, pipe = build(spark, tmp_path, [(1, "a", T1, None, "N")], pk=())
    rep = pipe.run()
    assert rep.skipped == ["t1"]
    assert rep.exit_code == 0  # skip is not failure (reference logs + continues)


def test_missing_cdc_columns_fails_isolated(spark, tmp_path):
    cat, pipe = build(spark, tmp_path, [(1, "a", T1, None, "N")])
    bad = spark.createDataFrame([(1, "x")], "id long, val string")
    cat.put("bad_table", bad, pk=["id"])
    rep = pipe.run()
    assert rep.failed == ["bad_table"]
    assert rep.exit_code == 2  # reference exit-2 contract
    # good table still replicated (per-table isolation)
    [good] = [r for r in rep.results if r.table == "t1"]
    assert good.status == "replicated"


def test_replay_idempotent(spark, tmp_path):
    """Re-running after a watermark reset (simulated crash before
    watermark commit) must not duplicate rows — at-least-once safety."""
    rows = [(1, "a", T1, None, "N"), (2, "b", T1, None, "N")]
    cat, pipe = build(spark, tmp_path, rows)
    pipe.run()
    before = target_map(pipe)
    # crash simulation: wipe watermark so the same batch replays
    # (state is a single parquet file now; legacy layout was a dir)
    import os
    import shutil

    if os.path.isdir(pipe.watermarks.path):
        shutil.rmtree(pipe.watermarks.path)
    else:
        os.remove(pipe.watermarks.path)
    pipe.run()
    assert target_map(pipe) == before


def test_parallel_waves_match_serial(spark, tmp_path):
    cat = Catalog(spark)
    for i, name in enumerate(["p_parent", "c_child", "x_other"]):
        cat.put(
            name,
            spark.createDataFrame([(i, name, T1, None, "N")], SCHEMA),
            pk=["id"],
        )
    cat._fk_edges = [("p_parent", "c_child")]
    target = ParquetTargetStore(spark, f"{tmp_path}/target")
    wm = WatermarkStore(spark, f"{tmp_path}/wm")
    pipe = CdcPipeline(spark, cat, target, wm, max_parallel_tables=3)
    rep = pipe.run(parallel=True)
    assert sorted(r.table for r in rep.results if r.status == "replicated") == [
        "c_child", "p_parent", "x_other",
    ]


def test_changed_table_runs_no_collect_job(spark, tmp_path, jobs_of):
    """Counts and the next watermark come from the observation the
    target write fills: no stats pass, no max(change_ts) query."""
    cat, pipe = build(spark, tmp_path, [(1, "a", T1, None, "N"), (2, "b", T1, None, "N")])
    pipe.run()
    cat.put("t1", spark.createDataFrame([(1, "a2", T1, T2, "N"), (3, "c", T2, None, "N")], SCHEMA), pk=["id"])
    res, jobs = jobs_of(lambda: pipe.replicate_table("t1"))
    assert (res.status, res.inserted, res.updated, res.dropped_deletes) == ("replicated", 1, 1, 0)
    assert pipe.watermarks.get("t1") == T2
    assert jobs, "no job ran in the table's group"
    assert [j["name"] for j in jobs if j["name"].startswith("collect")] == []


def test_catalog_delta_is_counted_once(spark, tmp_path, jobs_of):
    """An in-memory source has no footers: one count of the cached,
    deduplicated delta gates it and picks the merge; no isEmpty."""
    cat, pipe = build(spark, tmp_path, [(1, "a", T1, None, "N"), (2, "b", T1, None, "N")])
    pipe.run()
    cat.put("t1", spark.createDataFrame([(1, "a2", T1, T2, "N"), (3, "c", T2, None, "N")], SCHEMA), pk=["id"])
    res, jobs = jobs_of(lambda: pipe.replicate_table("t1"))
    assert (res.status, res.inserted, res.updated) == ("replicated", 1, 1)
    names = [j["name"].split(" at ")[0] for j in jobs]
    assert names.count("count") == 1 and "isEmpty" not in names, names


def test_first_load_of_an_empty_table_leaves_no_trace(spark, tmp_path):
    cat, pipe = build(spark, tmp_path, [])
    [res] = pipe.run().results
    assert res.status == "empty_delta"
    assert not pipe.target.exists("t1")
    assert [f for f in os.listdir(f"{tmp_path}/target") if ".tmp-" in f or ".old-" in f] == []
    assert pipe.watermarks.get("t1") is None


def test_lost_watermark_over_an_empty_source_keeps_the_target(spark, tmp_path):
    """With the watermark gone the run is a first load again; an empty
    source then must not replace the replicated target."""
    cat, pipe = build(spark, tmp_path, [(1, "a", T1, None, "N")])
    pipe.run()
    table_dir = f"{tmp_path}/target/t1"
    files = {f: os.stat(f"{table_dir}/{f}").st_mtime_ns for f in os.listdir(table_dir)}
    cat.put("t1", spark.createDataFrame([], SCHEMA), pk=["id"])
    lost = CdcPipeline(spark, cat, pipe.target, WatermarkStore(spark, f"{tmp_path}/wm2"), max_parallel_tables=1)
    [res] = lost.run().results
    assert res.status == "empty_delta"
    assert {f: os.stat(f"{table_dir}/{f}").st_mtime_ns for f in os.listdir(table_dir)} == files
    assert [f for f in os.listdir(f"{tmp_path}/target") if ".tmp-" in f or ".old-" in f] == []
    assert target_map(pipe) == {1: ("a", "N")}


@pytest.mark.parametrize("strategy", ["shuffle", "broadcast_delta"])
def test_gated_soft_delete_still_advances_watermark(spark, tmp_path, strategy, monkeypatch):
    """The batch's newest change is a soft-delete of a key the target
    never saw: the insert gate drops the row, but its change time is
    observed below the gate, so the watermark moves past it."""
    if strategy == "shuffle":  # a counted delta above the limit shuffles
        monkeypatch.setattr(pipeline, "BROADCAST_DELTA_MAX_ROWS", 0)
    cat, pipe = build(spark, tmp_path, [(1, "a", T1, None, "N")])
    pipe.run()
    cat.put("t1", spark.createDataFrame([(1, "a", T1, None, "N"), (5, "gone", T2, T3, "Y")], SCHEMA), pk=["id"])
    [res] = pipe.run().results
    assert (res.status, res.inserted, res.updated, res.dropped_deletes) == ("replicated", 0, 0, 1)
    assert target_map(pipe) == {1: ("a", "N")}
    assert pipe.watermarks.get("t1") == T3
    [again] = pipe.run().results
    assert again.status == "empty_delta"


@pytest.mark.parametrize("strategy", ["shuffle", "broadcast_delta"])
def test_several_versions_of_a_key_in_one_batch(spark, tmp_path, strategy, monkeypatch):
    """A change log with two versions of an existing key and two of a
    new one: the newest version of each lands, each key counts once."""
    if strategy == "shuffle":  # a counted delta above the limit shuffles
        monkeypatch.setattr(pipeline, "BROADCAST_DELTA_MAX_ROWS", 0)
    cat, pipe = build(spark, tmp_path, [(1, "a", T1, None, "N")])
    pipe.run()
    log = [
        (1, "a", T1, None, "N"),
        (1, "a2", T1, T2, "N"),
        (1, "a3", T1, T3, "N"),
        (4, "d", T2, None, "N"),
        (4, "d2", T2, T3, "N"),
    ]
    cat.put("t1", spark.createDataFrame(log, SCHEMA), pk=["id"])
    [res] = pipe.run().results
    assert (res.status, res.inserted, res.updated, res.dropped_deletes) == ("replicated", 1, 1, 0)
    assert target_map(pipe) == {1: ("a3", "N"), 4: ("d2", "N")}
    assert pipe.watermarks.get("t1") == T3


def test_failed_overwrite_leaves_no_staged_dir(spark, tmp_path):
    """A write that fails, or a commit wait that fails, removes the
    staged ``<table>.tmp-*`` copy; the previous version still reads."""
    target = ParquetTargetStore(spark, f"{tmp_path}/target")
    target.overwrite("t1", spark.range(3))
    bad = spark.range(3).withColumn("boom", F.raise_error(F.lit("planted write failure")))
    with pytest.raises(Exception, match="planted write failure"):
        target.overwrite("t1", bad)

    def fail_wait():
        raise RuntimeError("planted commit-wait failure")

    with pytest.raises(RuntimeError, match="planted commit-wait failure"):
        target.overwrite("t1", spark.range(5), before_swap=fail_wait)
    assert [n for n in os.listdir(target.root) if n.startswith("t1.")] == ["t1.lock"]
    assert sorted(r.id for r in target.read("t1").collect()) == [0, 1, 2]


def test_crash_between_swap_renames_restores_the_table(spark, tmp_path):
    """A process killed between the swap's two renames leaves the live
    table parked at ``<table>.old-*`` and no table at all. The next run
    puts it back and merges into it; it must not take the missing
    target for a first load and publish the delta alone."""
    rows = [(i, f"v{i}", T1, None, "N") for i in range(1, 6)]
    cat, pipe = build(spark, tmp_path, rows)
    pipe.run()
    cat.put("t1", spark.createDataFrame(rows + [(6, "v6", T2, None, "N")], SCHEMA), pk=["id"])
    live = pipe.target.path("t1")
    os.rename(live, f"{live}.old-deadbeef")
    rep = pipe.run()
    [res] = [r for r in rep.results if r.table == "t1"]
    assert (res.status, res.inserted) == ("replicated", 1)
    assert sorted(target_map(pipe)) == [1, 2, 3, 4, 5, 6]
    assert [n for n in os.listdir(pipe.target.root) if n.startswith("t1.")] == ["t1.lock"]


def _state(pipe, tables):
    """Each table's target rows and watermark."""
    return {t: (sorted(tuple(r) for r in pipe.target.read(t).collect()), pipe.watermarks.get(t)) for t in tables}


def test_commits_follow_fk_order(spark, tmp_path):
    """The child's merge is staged while its parent's is still in
    flight (the parent has the larger delta, and its write is held
    until the child has staged), yet the child swaps in only after the
    parent's watermark is written. The targets equal a serial run's."""
    log: list[tuple[str, str]] = []
    child_staged = threading.Event()

    class Target(ParquetTargetStore):
        def overwrite(self, table, df, before_swap=None):
            def staged():
                log.append(("staged", table))
                if table == "c_child":
                    child_staged.set()
                if before_swap is not None:
                    before_swap()

            if table == "p_parent" and not child_staged.wait(timeout=120):
                raise AssertionError("the child never staged while its parent was in flight")
            super().overwrite(table, df, before_swap=staged)
            log.append(("swapped", table))

    class Watermarks(WatermarkStore):
        def upsert(self, table, ts):
            super().upsert(table, ts)
            log.append(("watermark", table))

    tables = ["p_parent", "c_child", "x_other"]
    cat = Catalog(spark)
    parent_rows = [(i, f"p{i}", T1, T2 if i % 3 else None, "N") for i in range(2000)]
    cat.put("p_parent", spark.createDataFrame(parent_rows, SCHEMA), pk=["id"])
    cat.put("c_child", spark.createDataFrame([(1, "c", T1, None, "N")], SCHEMA), pk=["id"])
    cat.put("x_other", spark.createDataFrame([(2, "x", T3, None, "N")], SCHEMA), pk=["id"])
    cat._fk_edges = [("p_parent", "c_child")]

    pipe = CdcPipeline(spark, cat, Target(spark, f"{tmp_path}/par"), Watermarks(spark, f"{tmp_path}/par_wm"),
                       max_parallel_tables=3)
    rep = pipe.run(parallel=True)
    assert {r.table: r.status for r in rep.results} == dict.fromkeys(tables, "replicated"), rep.results
    assert log.index(("staged", "c_child")) < log.index(("swapped", "p_parent")), log
    assert log.index(("watermark", "p_parent")) < log.index(("swapped", "c_child")), log

    serial = CdcPipeline(spark, cat, ParquetTargetStore(spark, f"{tmp_path}/ser"),
                         WatermarkStore(spark, f"{tmp_path}/ser_wm"))
    assert serial.run(parallel=False).exit_code == 0
    assert _state(pipe, tables) == _state(serial, tables)


def test_small_pool_no_deadlock_and_failures_release(spark, tmp_path):
    """A 6-table FK chain and a 2-table FK cycle on a 2-thread pool
    finish, with results in the serial order. A parent that fails
    validation (t2) or has no primary key (t4) still releases its
    children, on the first load and on the no-change run after it."""
    chain = [f"t{i}" for i in range(6)]
    order = chain + ["cy_a", "cy_b"]
    cat = Catalog(spark)
    for i, name in enumerate(order):
        df = spark.createDataFrame([(i, name, T1, None, "N")], SCHEMA)
        if name == "t2":
            df = df.drop("updated_at")  # fails validate_cdc_columns
        cat.put(name, df, pk=[] if name == "t4" else ["id"])
    cat._fk_edges = list(zip(chain, chain[1:])) + [("t5", "cy_a"), ("cy_a", "cy_b"), ("cy_b", "cy_a")]
    pipe = CdcPipeline(spark, cat, ParquetTargetStore(spark, f"{tmp_path}/target"),
                       WatermarkStore(spark, f"{tmp_path}/wm"), max_parallel_tables=2)

    def run_joined():
        box = []
        worker = threading.Thread(target=lambda: box.append(pipe.run(parallel=True)), daemon=True)
        worker.start()
        worker.join(timeout=300)
        if worker.is_alive():
            # unblock the stuck pool threads, or the interpreter's exit
            # would wait on them forever
            for released in pipe._commit_order._released.values():
                released.set()
            pytest.fail("parallel run did not finish: commit-order deadlock")
        return box[0]

    special = {"t2": "failed", "t4": "skipped_no_pk"}
    for status in ("replicated", "empty_delta"):
        rep = run_joined()
        assert [r.table for r in rep.results] == order
        assert {r.table: r.status for r in rep.results} == {t: special.get(t, status) for t in order}
    assert "missing CDC columns" in rep.results[2].error
    assert [r.id for r in pipe.target.read("t5").collect()] == [5]
