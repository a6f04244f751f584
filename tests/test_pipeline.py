"""End-to-end replication pipeline tests: first-run full load,
incremental run, soft deletes, watermark advance, empty-delta
short-circuit, per-table error isolation — the reference main-loop
semantics (`/root/reference/scripts/03_cdc_etl.py:238-379`)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import types as T

from oracle_to_oracle_data_integration_pipeline_spark.catalog import Catalog, TableMeta
from oracle_to_oracle_data_integration_pipeline_spark.operators.watermark import WatermarkStore
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


def build(spark, tmp, rows, table="t1", pk=("id",), strategy="auto"):
    cat = Catalog(spark)
    cat.put(table, spark.createDataFrame(rows, SCHEMA), pk=list(pk))
    target = ParquetTargetStore(spark, f"{tmp}/target")
    wm = WatermarkStore(spark, f"{tmp}/wm")
    return cat, CdcPipeline(spark, cat, target, wm, max_parallel_tables=1, merge_strategy=strategy)


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


@pytest.mark.parametrize("strategy", ["shuffle", "broadcast_delta"])
def test_gated_soft_delete_still_advances_watermark(spark, tmp_path, strategy):
    """The batch's newest change is a soft-delete of a key the target
    never saw: the insert gate drops the row, but its change time is
    observed below the gate, so the watermark moves past it."""
    cat, pipe = build(spark, tmp_path, [(1, "a", T1, None, "N")], strategy=strategy)
    pipe.run()
    cat.put("t1", spark.createDataFrame([(1, "a", T1, None, "N"), (5, "gone", T2, T3, "Y")], SCHEMA), pk=["id"])
    [res] = pipe.run().results
    assert (res.status, res.inserted, res.updated, res.dropped_deletes) == ("replicated", 0, 0, 1)
    assert target_map(pipe) == {1: ("a", "N")}
    assert pipe.watermarks.get("t1") == T3
    [again] = pipe.run().results
    assert again.status == "empty_delta"


@pytest.mark.parametrize("strategy", ["shuffle", "broadcast_delta"])
def test_several_versions_of_a_key_in_one_batch(spark, tmp_path, strategy):
    """A change log with two versions of an existing key and two of a
    new one: the newest version of each lands, each key counts once."""
    cat, pipe = build(spark, tmp_path, [(1, "a", T1, None, "N")], strategy=strategy)
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
