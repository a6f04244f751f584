"""Sized writes + compaction: file-count shaping, partition dirs,
atomic swap, content preservation."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from oracle_to_oracle_data_integration_pipeline_spark.sources.parquet import ParquetSink


def _files(path):
    return [f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith((".", "_"))]


def test_write_sized_controls_file_count(spark, tmp_path):
    df = spark.range(10_000).withColumn("v", F.col("id") * 2)
    sink = ParquetSink(str(tmp_path))
    sink.write_sized(df, "t", mode="overwrite", target_files=4)
    assert len(_files(str(tmp_path / "t"))) == 4
    assert spark.read.parquet(str(tmp_path / "t")).count() == 10_000


def test_write_sized_partition_dirs(spark, tmp_path):
    df = spark.range(1_000).withColumn("bucket", (F.col("id") % 3).cast("int"))
    sink = ParquetSink(str(tmp_path))
    sink.write_sized(df, "p", mode="overwrite", target_files=3, partition_by=["bucket"])
    dirs = sorted(d for d in os.listdir(tmp_path / "p") if d.startswith("bucket="))
    assert dirs == ["bucket=0", "bucket=1", "bucket=2"]
    back = spark.read.parquet(str(tmp_path / "p"))
    assert back.count() == 1_000


def test_write_sized_max_records_splits_files(spark, tmp_path):
    df = spark.range(10_000).coalesce(1)
    sink = ParquetSink(str(tmp_path))
    sink.write_sized(df, "m", mode="overwrite", max_records_per_file=2_500)
    assert len(_files(str(tmp_path / "m"))) >= 4


def test_compact_swaps_atomically_and_preserves_rows(spark, tmp_path):
    df = spark.range(5_000).withColumn("v", F.col("id") % 7)
    sink = ParquetSink(str(tmp_path))
    # fragment: 16 small files
    df.repartition(16).write.mode("overwrite").parquet(str(tmp_path / "c"))
    assert len(_files(str(tmp_path / "c"))) == 16
    before = sink.compact(spark, "c", target_files=2, sort_within_by=["id"])
    assert before == 16
    assert len(_files(str(tmp_path / "c"))) == 2
    back = spark.read.parquet(str(tmp_path / "c"))
    assert back.count() == 5_000
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(5_000))
    assert not os.path.exists(str(tmp_path / "c__compact_tmp"))
    assert not os.path.exists(str(tmp_path / "c__compact_old"))


def test_compact_refuses_partitioned_table(spark, tmp_path):
    import pytest as _pytest

    df = spark.range(100).withColumn("bucket", (F.col("id") % 2).cast("int"))
    df.write.partitionBy("bucket").parquet(str(tmp_path / "pp"))
    sink = ParquetSink(str(tmp_path))
    with _pytest.raises(ValueError, match="hive-partitioned"):
        sink.compact(spark, "pp", target_files=1)


def _fragmented(spark, tmp_path, name="c"):
    df = spark.range(5_000).withColumn("v", F.col("id") % 7)
    df.repartition(16).write.mode("overwrite").parquet(str(tmp_path / name))
    return sum(range(5_000))


def test_failed_compact_leaves_no_staged_copy(spark, tmp_path, monkeypatch):
    """A rewrite that fails mid-write removes its staged copy; the
    table still reads as before."""
    import pytest as _pytest

    from oracle_to_oracle_data_integration_pipeline_spark.operators import scale

    total = _fragmented(spark, tmp_path)
    monkeypatch.setattr(
        scale,
        "cluster_by_range",
        lambda df, cols, num_files: df.withColumn("boom", F.raise_error(F.lit("planted write failure"))),
    )
    sink = ParquetSink(str(tmp_path))
    with _pytest.raises(Exception, match="planted write failure"):
        sink.compact(spark, "c", target_files=2, cluster_by=["id"])
    assert [n for n in os.listdir(tmp_path) if n.startswith("c.") or n.startswith("c__")] == ["c.lock"]
    assert len(_files(str(tmp_path / "c"))) == 16
    assert spark.read.parquet(str(tmp_path / "c")).agg(F.sum("id")).collect()[0][0] == total


def test_compact_sweeps_a_stale_parked_copy(spark, tmp_path):
    """A ``c.old-*`` left by a swap killed before its cleanup is gone
    after the next compact, which still rewrites the live table."""
    total = _fragmented(spark, tmp_path)
    os.makedirs(tmp_path / "c.old-0123abcd")
    (tmp_path / "c.old-0123abcd" / "part-00000.parquet").write_bytes(b"stale")
    ParquetSink(str(tmp_path)).compact(spark, "c", target_files=2)
    assert sorted(n for n in os.listdir(tmp_path) if n.startswith("c.")) == ["c.lock"]
    assert len(_files(str(tmp_path / "c"))) == 2
    assert spark.read.parquet(str(tmp_path / "c")).agg(F.sum("id")).collect()[0][0] == total


def test_table_write_lock_reentrant_same_thread(tmp_path):
    """replicate_table holds the lock across read->merge->swap and
    overwrite() re-acquires inside it: same-thread nesting must not
    self-deadlock; a second thread must still block."""
    import threading
    import time

    from oracle_to_oracle_data_integration_pipeline_spark.sources.locking import (
        table_write_lock,
    )

    p = str(tmp_path / "tbl")
    order = []
    with table_write_lock(p):
        with table_write_lock(p):  # nested: must not deadlock
            order.append("inner")

        blocked_until = []

        def contender():
            with table_write_lock(p):
                blocked_until.append(time.monotonic())

        t = threading.Thread(target=contender)
        t.start()
        time.sleep(0.3)
        assert not blocked_until, "second thread acquired while lock held"
        released_at = time.monotonic()
    t.join(timeout=5)
    assert blocked_until and blocked_until[0] >= released_at


def test_compact_cluster_by_produces_prunable_layout(spark, tmp_path):
    import pyarrow.parquet as pq

    from oracle_to_oracle_data_integration_pipeline_spark.sources.parquet import ParquetSink

    sink = ParquetSink(str(tmp_path))
    df = spark.range(0, 40_000).selectExpr("id AS k", "id * 3 AS v")
    # simulate fragmented appends in random key order
    for i in range(4):
        df.filter((F.col("k") % 4) == i).write.mode("append").parquet(
            str(tmp_path / "t")
        )
    sink.compact(spark, "t", target_files=4, cluster_by=["k"])
    path = str(tmp_path / "t")
    ranges = []
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            st = md.row_group(0).column(0).statistics
            ranges.append((st.min, st.max))
    ranges.sort()
    # disjoint consecutive ranges == prunable layout
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2
    assert spark.read.parquet(path).count() == 40_000


def test_compact_cluster_by_composes_with_sort_within_by(spark, tmp_path):
    """sort_within_by must SORT WITHIN the cluster keys, not replace
    them — a bare secondary sort would shuffle the range-cluster's
    in-file order and widen the row-group stats clustering exists to
    narrow."""
    from oracle_to_oracle_data_integration_pipeline_spark.sources.parquet import ParquetSink

    sink = ParquetSink(str(tmp_path))
    # v is uncorrelated with k: sorting by v alone destroys k order
    spark.range(0, 10_000).selectExpr("id AS k", "id % 7 AS v").write.mode(
        "append"
    ).parquet(str(tmp_path / "t2"))
    sink.compact(spark, "t2", target_files=2, cluster_by=["k"], sort_within_by=["v"])
    path = str(tmp_path / "t2")
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            ks = [r["k"] for r in spark.read.parquet(os.path.join(path, f)).collect()]
            assert ks == sorted(ks), f"cluster order lost in {f}"
