"""The footer gate (``sources.parquet.newer_rows_bound``) answers "is the
delta empty?" and "how big can it be?" from parquet row-group statistics,
with no Spark job. It may only ever say 0 when Spark's delta predicate
selects no row; whatever it cannot prove falls through to Spark."""

from __future__ import annotations

import datetime
import os
import time
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from oracle_to_oracle_data_integration_pipeline_spark import catalog as catalog_mod
from oracle_to_oracle_data_integration_pipeline_spark.catalog import Catalog
from oracle_to_oracle_data_integration_pipeline_spark.operators.cdc import delta_predicate
from oracle_to_oracle_data_integration_pipeline_spark.operators.watermark import WatermarkStore
from oracle_to_oracle_data_integration_pipeline_spark.plans import pipeline as pipeline_mod
from oracle_to_oracle_data_integration_pipeline_spark.plans.pipeline import (
    CdcPipeline,
    ParquetTargetStore,
)
from oracle_to_oracle_data_integration_pipeline_spark.sources import parquet as pqsrc
from oracle_to_oracle_data_integration_pipeline_spark.sources.parquet import data_files, newer_rows_bound

TS = datetime.datetime
UTC = datetime.timezone.utc
CDC = ("created_at", "updated_at")
US_UTC = pa.timestamp("us", tz="UTC")
WM = TS(2024, 1, 2)  # naive, as the watermark store returns it; TZ is UTC here


def _table(created, updated, ids=None, ts_type=US_UTC, names=CDC):
    ids = ids if ids is not None else list(range(1, len(created) + 1))
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        names[0]: pa.array(created, ts_type),
        names[1]: pa.array(updated, ts_type),
        "is_deleted": pa.array(["N"] * len(ids)),
    })


def _write(path, tbl, **kw):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, **kw)
    return path


def _spark_delta_rows(spark, path, wm):
    return spark.read.parquet(path).filter(delta_predicate(wm)).count()


# -- statistics -----------------------------------------------------------

def test_old_rows_bound_zero_and_newer_rows_counted(tmp_path):
    old = _write(f"{tmp_path}/old.parquet", _table([TS(2024, 1, 1)] * 3, [None, TS(2024, 1, 1, 5), None]))
    assert newer_rows_bound(old, WM, CDC) == 0
    new = _write(f"{tmp_path}/new.parquet", _table([TS(2024, 1, 1), TS(2024, 1, 3)], [None, None]))
    assert newer_rows_bound(new, WM, CDC) == 2


def test_bound_sums_only_row_groups_that_may_hold_newer_rows(tmp_path):
    created = [TS(2024, 1, 1)] * 4 + [TS(2024, 1, 5)] * 2
    path = _write(f"{tmp_path}/t.parquet", _table(created, [None] * 6), row_group_size=2)
    assert pq.read_metadata(path).num_row_groups == 3
    assert newer_rows_bound(path, WM, CDC) == 2


def test_row_group_without_statistics_falls_through(tmp_path):
    path = _write(f"{tmp_path}/t.parquet", _table([TS(2024, 1, 1)] * 2, [None, None]),
                  write_statistics=False)
    assert newer_rows_bound(path, WM, CDC) == 2  # rows counted, never proved empty


def test_statistics_without_null_count_fall_through():
    no_nulls = SimpleNamespace(statistics=SimpleNamespace(
        has_null_count=False, null_count=0, has_min_max=True, max_raw=0))
    assert pqsrc._may_be_newer(no_nulls, 3, 1, 10) is True
    assert pqsrc._may_be_newer(SimpleNamespace(statistics=None), 3, 1, 10) is True


def test_all_null_updated_at_proves_nothing_newer_for_that_column(tmp_path):
    # pyarrow writes no min/max for an all-null chunk, only its null count
    path = _write(f"{tmp_path}/t.parquet", _table([TS(2024, 1, 1)] * 3, [None] * 3))
    stats = pq.read_metadata(path).row_group(0).column(2).statistics
    assert not stats.has_min_max and stats.null_count == 3
    assert newer_rows_bound(path, WM, CDC) == 0
    # ... but missing min/max on a chunk that holds values proves nothing
    partly = SimpleNamespace(statistics=SimpleNamespace(
        has_null_count=True, null_count=1, has_min_max=False, max_raw=None))
    assert pqsrc._may_be_newer(partly, 3, 1, 10) is True


@pytest.mark.parametrize("ts_type", [
    pa.timestamp("us"),               # isAdjustedToUTC=false: Spark reads timestamp_ntz
    pa.timestamp("ns", tz="UTC"),     # nanos: Spark reads bigint under nanosAsLong
])
def test_naive_or_nanosecond_stats_fall_through(tmp_path, ts_type):
    path = _write(f"{tmp_path}/t.parquet", _table([TS(2024, 1, 1)], [None], ts_type=ts_type))
    assert newer_rows_bound(path, WM, CDC) is None


def test_non_timestamp_cdc_columns_fall_through(tmp_path):
    tbl = pa.table({"id": [1], "created_at": pa.array([1], pa.int64()),
                    "updated_at": pa.array(["2024-01-01"]), "is_deleted": ["N"]})
    path = _write(f"{tmp_path}/t.parquet", tbl)
    assert newer_rows_bound(path, WM, CDC) is None


def test_millisecond_stats_are_scaled(tmp_path):
    ms = pa.timestamp("ms", tz="UTC")
    path = _write(f"{tmp_path}/t.parquet", _table([WM + datetime.timedelta(milliseconds=1)], [None], ts_type=ms))
    assert newer_rows_bound(path, WM, CDC) == 1
    path = _write(f"{tmp_path}/u.parquet", _table([WM], [None], ts_type=ms))
    assert newer_rows_bound(path, WM, CDC) == 0


def test_watermark_that_is_not_a_datetime_falls_through(tmp_path):
    path = _write(f"{tmp_path}/t.parquet", _table([TS(2024, 1, 1)], [None]))
    assert newer_rows_bound(path, datetime.date(2024, 1, 2), CDC) is None
    assert newer_rows_bound(path, "2024-01-02", CDC) is None


def test_cdc_columns_match_case_insensitively(tmp_path):
    path = _write(f"{tmp_path}/t.parquet", _table([TS(2024, 1, 1)], [None], names=("CREATED_AT", "Updated_At")))
    assert newer_rows_bound(path, WM, CDC) == 0
    path = _write(f"{tmp_path}/n.parquet", _table([TS(2024, 1, 3)], [None], names=("CREATED_AT", "Updated_At")))
    assert newer_rows_bound(path, WM, CDC) == 1


def test_missing_or_ambiguous_cdc_column_falls_through(tmp_path):
    tbl = pa.table({"id": [1], "created_at": pa.array([TS(2024, 1, 1)], US_UTC)})
    assert newer_rows_bound(_write(f"{tmp_path}/a.parquet", tbl), WM, CDC) is None
    tbl = _table([TS(2024, 1, 1)], [None]).append_column("CREATED_AT", pa.array([TS(2024, 1, 1)], US_UTC))
    assert newer_rows_bound(_write(f"{tmp_path}/b.parquet", tbl), WM, CDC) is None


# -- the watermark instant and the boundary --------------------------------

@pytest.fixture()
def tokyo_tz(monkeypatch):
    """Local time UTC+9 for this process: PySpark turns a naive datetime
    literal into an instant with the local zone."""
    monkeypatch.setenv("TZ", "Asia/Tokyo")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_naive_watermark_is_local_time_like_pyspark_literals(spark, tmp_path, tokyo_tz):
    wm = TS(2024, 1, 2, 12, 0)  # 03:00 UTC in Tokyo
    newer = _write(f"{tmp_path}/newer.parquet", _table([TS(2024, 1, 2, 5, 0, tzinfo=UTC)], [None]))
    older = _write(f"{tmp_path}/older.parquet", _table([TS(2024, 1, 2, 2, 0, tzinfo=UTC)], [None]))
    assert _spark_delta_rows(spark, newer, wm) == 1
    assert newer_rows_bound(newer, wm, CDC) == 1  # a UTC reading of wm would say 0
    assert _spark_delta_rows(spark, older, wm) == 0
    assert newer_rows_bound(older, wm, CDC) == 0


def test_aware_watermark_is_its_own_instant(tmp_path, tokyo_tz):
    path = _write(f"{tmp_path}/t.parquet", _table([TS(2024, 1, 2, 5, 0, tzinfo=UTC)], [None]))
    assert newer_rows_bound(path, TS(2024, 1, 2, 5, 0, tzinfo=UTC), CDC) == 0
    assert newer_rows_bound(path, TS(2024, 1, 2, 4, 59, 59, 999999, tzinfo=UTC), CDC) == 1


@pytest.mark.parametrize("column", ["created_at", "updated_at"])
def test_boundary_agrees_with_the_strict_spark_predicate(spark, tmp_path, column):
    wm = TS(2024, 1, 2, 0, 0, 0, 500)
    for i, mx in enumerate([wm, wm + datetime.timedelta(microseconds=1)]):
        created, updated = ([mx], [None]) if column == "created_at" else ([TS(2024, 1, 1)], [mx])
        path = _write(f"{tmp_path}/{column}{i}.parquet", _table(created, updated))
        spark_rows = _spark_delta_rows(spark, path, wm)
        assert spark_rows == i
        assert newer_rows_bound(path, wm, CDC) == i


# -- file enumeration ------------------------------------------------------

def test_directory_listing_matches_spark(spark, tmp_path):
    d = tmp_path / "t"
    _write(f"{d}/part-0.parquet", _table([TS(2024, 1, 1)], [None]))
    # a data file without the .parquet suffix is still data to Spark
    _write(f"{d}/part-1", _table([TS(2024, 1, 3)], [None], ids=[2]))
    # hidden files and directories are not
    _write(f"{d}/_hidden.parquet", _table([TS(2025, 1, 1)], [None], ids=[3]))
    _write(f"{d}/.hidden.parquet", _table([TS(2025, 1, 1)], [None], ids=[4]))
    _write(f"{d}/_temporary/0/part-9.parquet", _table([TS(2025, 1, 1)], [None], ids=[5]))
    (d / "_SUCCESS").write_bytes(b"")
    (d / "part-2.parquet._COPYING_").write_bytes(b"partial")
    assert [os.path.basename(f) for f in data_files(str(d))] == ["part-0.parquet", "part-1"]
    assert spark.read.parquet(str(d)).count() == 2
    assert _spark_delta_rows(spark, str(d), WM) == 1
    assert newer_rows_bound(str(d), WM, CDC) == 1


def test_unparseable_file_falls_through(tmp_path):
    d = tmp_path / "t"
    _write(f"{d}/part-0.parquet", _table([TS(2024, 1, 1)], [None]))
    (d / "notes.txt").write_text("not parquet")
    assert newer_rows_bound(str(d), WM, CDC) is None
    (d / "notes.txt").unlink()
    (d / "empty.parquet").write_bytes(b"")
    assert newer_rows_bound(str(d), WM, CDC) is None


def test_partitioned_nested_glob_and_summary_layouts_fall_through(tmp_path):
    old = _table([TS(2024, 1, 1)], [None])
    _write(f"{tmp_path}/hive/region=1/part-0.parquet", old)
    _write(f"{tmp_path}/nested/sub/part-0.parquet", old)
    _write(f"{tmp_path}/summary/part-0.parquet", old)
    _write(f"{tmp_path}/summary/_common_metadata", old)
    for layout in ("hive", "nested", "summary"):
        assert newer_rows_bound(f"{tmp_path}/{layout}", WM, CDC) is None, layout
    assert newer_rows_bound(f"{tmp_path}/hive/*", WM, CDC) is None
    assert newer_rows_bound(f"{tmp_path}/missing", WM, CDC) is None
    assert newer_rows_bound(None, WM, CDC) is None  # put frames, JDBC


def test_footers_are_read_fresh_on_every_call(tmp_path):
    """A rewrite at the same size within one mtime tick must be seen:
    nothing about the statistics is memoized."""
    path = _write(f"{tmp_path}/t.parquet", _table([TS(2024, 1, 1)], [None]))
    st = os.stat(path)
    assert newer_rows_bound(path, WM, CDC) == 0
    _write(path, _table([TS(2024, 1, 3)], [None]))
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(path).st_size == st.st_size and os.stat(path).st_mtime_ns == st.st_mtime_ns
    assert newer_rows_bound(path, WM, CDC) == 1


# -- the pipeline ------------------------------------------------------------

def _pipeline(spark, tmp_path, src_dir):
    cat = Catalog.from_parquet_dir(spark, str(src_dir), pks={"t1": ["id"], "t2": ["id"]}, fk_edges=[])
    target = ParquetTargetStore(spark, f"{tmp_path}/target")
    return cat, CdcPipeline(spark, cat, target, WatermarkStore(spark, f"{tmp_path}/wm"),
                            max_parallel_tables=1)


def _target_ids(pipe, table):
    return sorted(r["id"] for r in pipe.target.read(table).collect())


def test_long_lived_catalog_sees_new_part_files(spark, tmp_path):
    src = tmp_path / "src"
    _write(f"{src}/t1/part-0.parquet", _table([TS(2024, 1, 1), TS(2024, 1, 1)], [None, None]))
    cat, pipe = _pipeline(spark, tmp_path, src)
    assert [r.status for r in pipe.run().results] == ["replicated"]
    _write(f"{src}/t1/part-1.parquet", _table([TS(2024, 1, 5)], [None], ids=[3]))
    [res] = pipe.run().results
    assert (res.status, res.inserted) == ("replicated", 1)
    assert _target_ids(pipe, "t1") == [1, 2, 3]
    assert cat.load("t1").count() == 3


def test_no_change_run_spends_no_job_and_changed_table_no_schema_or_count_job(spark, tmp_path, jobs_of):
    src = tmp_path / "src"
    _write(f"{src}/t1.parquet", _table([TS(2024, 1, 1), TS(2024, 1, 1)], [None, None]))
    _write(f"{src}/t2.parquet", _table([TS(2024, 1, 1)], [TS(2024, 1, 1, 6)]))
    cat, pipe = _pipeline(spark, tmp_path, src)
    pipe.run(parallel=False)

    report, jobs = jobs_of(lambda: pipe.run(parallel=False))
    assert [r.status for r in report.results] == ["empty_delta", "empty_delta"]
    assert jobs == []

    _write(f"{src}/t2.parquet", _table([TS(2024, 1, 1)], [TS(2024, 1, 4)]))
    report, jobs = jobs_of(lambda: pipe.run(parallel=False))
    assert [r.status for r in report.results] == ["empty_delta", "replicated"]
    names = [j["name"].split(" at ")[0] for j in jobs]
    assert jobs and "parquet" not in names and "count" not in names, names
    assert _target_ids(pipe, "t2") == [1]
    assert pipe.watermarks.get("t2") == TS(2024, 1, 4)


def test_target_schema_comes_from_the_target(spark, tmp_path):
    """Under schema evolution the source gains a column the target does
    not have yet: the target read must show the target's columns."""
    src = tmp_path / "src"
    _write(f"{src}/t1.parquet", _table([TS(2024, 1, 1)], [None]))
    cat, pipe = _pipeline(spark, tmp_path, src)
    pipe.run()
    evolved = _table([TS(2024, 1, 1)], [None]).append_column("extra", pa.array(["x"]))
    _write(f"{src}/t1.parquet", evolved)
    assert "extra" in cat.get_schema("t1").names
    assert "extra" not in pipe.target.read("t1").columns
    assert cat.get_meta("t1").schema == cat.get_schema("t1")


def test_timestamp_ntz_literals_fall_through_to_spark(spark, tmp_path, jobs_of):
    """Under ``spark.sql.timestampType=TIMESTAMP_NTZ`` PySpark makes the
    naive watermark an NTZ literal, which the gate does not model."""
    src = tmp_path / "src"
    _write(f"{src}/t1.parquet", _table([TS(2024, 1, 1)], [None]))
    cat, pipe = _pipeline(spark, tmp_path, src)
    pipe.run(parallel=False)
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try:
        report, jobs = jobs_of(lambda: pipe.run(parallel=False))
    finally:
        spark.conf.unset("spark.sql.timestampType")
    assert [r.status for r in report.results] == ["empty_delta"]
    assert jobs  # Spark's count answered


# -- proof: a footer-proven delta runs only its merge ----------------------


def _changed_table_source(tmp_path):
    """t1 replicated once with three rows; then one update and one
    fresh key land, both proven newer by the footer's statistics."""
    src = tmp_path / "src"
    path = _write(f"{src}/t1.parquet", _table([TS(2024, 1, 1)] * 3, [None] * 3))
    return src, path, _table([TS(2024, 1, 1)] * 3 + [TS(2024, 1, 5)], [TS(2024, 1, 5), None, None, None],
                             ids=[1, 2, 3, 4])


def test_newer_rows_proves_only_from_a_newer_non_null_max(tmp_path):
    path = _write(f"{tmp_path}/t.parquet", _table([TS(2024, 1, 1), TS(2024, 1, 1)], [None, TS(2024, 1, 3)]))
    assert pqsrc.newer_rows(path, WM, CDC) == (2, True)
    assert pqsrc.newer_rows(path, TS(2024, 1, 3), CDC) == (0, False)
    unproven = _write(f"{tmp_path}/u.parquet", _table([TS(2024, 1, 3)], [None]), write_statistics=False)
    assert pqsrc.newer_rows(unproven, WM, CDC) == (1, False)
    assert pqsrc.newer_rows(None, WM, CDC) is None


def test_footer_proven_changed_table_runs_only_its_merge(spark, tmp_path, jobs_of):
    """No cache, no isEmpty gate, no count: the merge's two broadcasts
    and its write."""
    src, path, changed = _changed_table_source(tmp_path)
    cat, pipe = _pipeline(spark, tmp_path, src)
    pipe.run(parallel=False)
    _write(path, changed)
    res, jobs = jobs_of(lambda: pipe.replicate_table("t1"))
    assert (res.status, res.inserted, res.updated, res.dropped_deletes) == ("replicated", 1, 1, 0)
    names = [j["name"].split(" at ")[0] for j in jobs]
    assert 0 < len(jobs) <= 3 and not {"isEmpty", "count"} & set(names), names
    assert _target_ids(pipe, "t1") == [1, 2, 3, 4]
    assert pipe.watermarks.get("t1") == TS(2024, 1, 5)


def _action_names(jobs):
    return [j["name"].split(" at ")[0] for j in jobs]


def test_first_load_runs_no_gate_job_and_caches_nothing(spark, tmp_path, jobs_of):
    """A first load has no watermark to gate on: the merge's write
    observes the row count, so nothing is cached and no isEmpty runs."""
    src, _, _ = _changed_table_source(tmp_path)
    cat, pipe = _pipeline(spark, tmp_path, src)
    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    report, jobs = jobs_of(lambda: pipe.run(parallel=False))
    assert [r.status for r in report.results] == ["replicated"]
    assert "isEmpty" not in _action_names(jobs), _action_names(jobs)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached
    assert _target_ids(pipe, "t1") == [1, 2, 3]


def test_changed_table_without_statistics_is_counted_once(spark, tmp_path, jobs_of):
    """Footers without statistics bound the delta but prove no row:
    one count of the cached delta gates it and picks the merge."""
    src = tmp_path / "src"
    path = _write(f"{src}/t1.parquet", _table([TS(2024, 1, 1)] * 2, [None, None]), write_statistics=False)
    cat, pipe = _pipeline(spark, tmp_path, src)
    pipe.run(parallel=False)
    _write(path, _table([TS(2024, 1, 1)] * 3, [TS(2024, 1, 5), None, TS(2024, 1, 5)], ids=[1, 2, 3]),
           write_statistics=False)
    res, jobs = jobs_of(lambda: pipe.replicate_table("t1"))
    assert (res.status, res.inserted, res.updated) == ("replicated", 1, 1)
    names = _action_names(jobs)
    assert names.count("count") == 1 and "isEmpty" not in names, names
    assert _target_ids(pipe, "t1") == [1, 2, 3]


def test_changed_table_reads_its_source_footer_schema_once(spark, tmp_path, monkeypatch):
    """The gate's schema read serves the loader too; the next cycle
    reads it afresh, so a long-lived catalog still sees it evolve."""
    src, path, changed = _changed_table_source(tmp_path)
    cat, pipe = _pipeline(spark, tmp_path, src)
    pipe.run()
    reads = []
    real = catalog_mod.footer_schema
    monkeypatch.setattr(catalog_mod, "footer_schema", lambda spark, p: reads.append(p) or real(spark, p))
    _write(path, changed)
    [res] = pipe.run().results
    assert res.status == "replicated"
    assert [p for p in reads if p.endswith("t1.parquet")] == [path], reads
    _write(path, _table([TS(2024, 1, 6)], [None], ids=[5]).append_column("extra", pa.array(["x"])))
    [res] = pipe.run().results
    assert (res.status, res.inserted) == ("replicated", 1)
    assert "extra" in pipe.target.read("t1").columns


def test_unproven_no_change_cycle_writes_nothing(spark, tmp_path, jobs_of):
    """Footers without statistics prove no row: the delta's one count
    answers, and no staged copy is written just to be thrown away."""
    src = tmp_path / "src"
    _write(f"{src}/t1.parquet", _table([TS(2024, 1, 1)] * 2, [None, None]), write_statistics=False)
    cat, pipe = _pipeline(spark, tmp_path, src)
    pipe.run(parallel=False)
    report, jobs = jobs_of(lambda: pipe.run(parallel=False))
    assert [r.status for r in report.results] == ["empty_delta"]
    assert jobs and sum(j["output_bytes"] for j in jobs) == 0, jobs


def test_new_keys_with_null_is_deleted_replicate_and_advance_the_watermark(spark, tmp_path):
    """Rows the insert gate drops and the drop count does not count
    (u+i+x = 0) are still a non-empty delta: the watermark moves."""
    src = tmp_path / "src"
    path = _write(f"{src}/t1.parquet", _table([TS(2024, 1, 1)], [None]))
    cat, pipe = _pipeline(spark, tmp_path, src)
    pipe.run()
    nulls = _table([TS(2024, 1, 1), TS(2024, 1, 5), TS(2024, 1, 5)], [None] * 3)
    _write(path, nulls.set_column(3, "is_deleted", pa.array(["N", None, None], pa.string())))
    [res] = pipe.run().results
    assert (res.status, res.inserted, res.updated, res.dropped_deletes) == ("replicated", 0, 0, 0)
    assert pipe.watermarks.get("t1") == TS(2024, 1, 5)
    assert _target_ids(pipe, "t1") == [1]
    assert [r.status for r in pipe.run().results] == ["empty_delta"]


def test_bound_above_the_broadcast_limit_is_counted(spark, tmp_path, monkeypatch):
    """One 50-row row group holds the one changed row: the bound (50)
    exceeds the limit, so auto counts the real delta (1) and still
    broadcasts it."""
    src = tmp_path / "src"
    path = _write(f"{src}/t1.parquet", _table([TS(2024, 1, 1)] * 50, [None] * 50))
    cat, pipe = _pipeline(spark, tmp_path, src)
    monkeypatch.setattr(pipeline_mod, "BROADCAST_DELTA_MAX_ROWS", 10)
    pipe.run()
    _write(path, _table([TS(2024, 1, 1)] * 50, [TS(2024, 1, 5)] + [None] * 49))
    strategies, counted = [], []
    real = pipeline_mod.merge_soft_delete
    monkeypatch.setattr(pipeline_mod, "merge_soft_delete",
                        lambda *a, **kw: strategies.append(kw["strategy"]) or real(*a, **kw))
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    real_count = frame.count
    monkeypatch.setattr(frame, "count", lambda df: counted.append(real_count(df)) or counted[-1])
    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    [res] = pipe.run(parallel=False).results
    assert (res.status, res.updated) == ("replicated", 1)
    assert strategies == ["broadcast_delta"]
    assert counted == [1]
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached  # the delta cache is released


def test_proof_over_an_empty_delta_leaves_the_table_and_releases_children(spark, tmp_path, monkeypatch):
    """Footers that claim a newer row Spark then does not read (here a
    patched proof): the write observes no delta row, so the staged copy
    is discarded before the FK wait, and the child still replicates."""
    src = tmp_path / "src"
    _write(f"{src}/p.parquet", _table([TS(2024, 1, 1)] * 2, [None, None]))
    child = _write(f"{src}/c.parquet", _table([TS(2024, 1, 1)], [None]))
    cat = Catalog.from_parquet_dir(spark, str(src), pks={"p": ["id"], "c": ["id"]}, fk_edges=[("p", "c")])
    pipe = CdcPipeline(spark, cat, ParquetTargetStore(spark, f"{tmp_path}/target"),
                       WatermarkStore(spark, f"{tmp_path}/wm"), max_parallel_tables=2)
    assert pipe.run().exit_code == 0

    real = pipeline_mod.newer_rows
    monkeypatch.setattr(pipeline_mod, "newer_rows", lambda path, since, cols: (
        pqsrc.NewerRows(1, True) if path.endswith("p.parquet") else real(path, since, cols)))
    _write(child, _table([TS(2024, 1, 1), TS(2024, 1, 5)], [None, None], ids=[1, 2]))
    target = tmp_path / "target"
    files = {f: os.stat(target / "p" / f).st_mtime_ns for f in os.listdir(target / "p")}
    mark = pipe.watermarks.get("p")

    report = pipe.run(parallel=True)
    assert {r.table: r.status for r in report.results} == {"p": "empty_delta", "c": "replicated"}
    assert {f: os.stat(target / "p" / f).st_mtime_ns for f in os.listdir(target / "p")} == files
    assert [f for f in os.listdir(target) if ".tmp-" in f or ".old-" in f] == []
    assert pipe.watermarks.get("p") == mark
    assert _target_ids(pipe, "c") == [1, 2]
