"""Structured Streaming tests: stream/batch window agreement, watermark
late-data handling, and the foreachBatch CDC stream (the reference's
rerun loop as a real stream, SURVEY.md §2.9)."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oracle_to_oracle_data_integration_pipeline_spark.plans.pipeline import ParquetTargetStore
from oracle_to_oracle_data_integration_pipeline_spark.queries._util import load, normalize_events_ts
from oracle_to_oracle_data_integration_pipeline_spark.streaming.cdc_stream import run_cdc_stream
from oracle_to_oracle_data_integration_pipeline_spark.streaming.windows import (
    tumbling_agg,
    with_watermark,
)

TS = datetime.datetime

CDC_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("val", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
        T.StructField("is_deleted", T.StringType(), False),
    ]
)


def test_stream_equals_batch_tumbling(spark, sf_dir):
    """The same windowed agg over readStream and over the static frame
    must agree — mode-agnostic operator contract."""
    events = load(spark, sf_dir, "events")
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_agg(events).collect()
    }

    import tempfile
    import uuid

    path = os.path.join(sf_dir, "events.parquet")
    stream_dir = tempfile.mkdtemp(prefix="events_stream_")
    os.symlink(path, os.path.join(stream_dir, "events.parquet"))
    schema = spark.read.parquet(path).schema
    stream = normalize_events_ts(spark.readStream.schema(schema).parquet(stream_dir))
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        tumbling_agg(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table(name).collect()
    }
    assert streamed == batch


def test_watermark_drops_late_data(spark, tmp_path):
    """A row older than max(event time) - delay arriving in a LATER
    micro-batch is dropped; the reference's implicit analog is rows
    below the committed watermark never being re-read."""
    src = f"{tmp_path}/events_src"
    schema = "ts timestamp, k string, v long"
    on_time = spark.createDataFrame(
        [(TS(2024, 1, 1, 10, 30), "a", 1), (TS(2024, 1, 1, 23, 30), "a", 1)], schema
    )
    on_time.coalesce(1).write.mode("overwrite").parquet(src)
    late = spark.createDataFrame([(TS(2024, 1, 1, 10, 45), "a", 100)], schema)
    late.coalesce(1).write.mode("append").parquet(src)

    import uuid

    stream = spark.readStream.schema(on_time.schema).option("maxFilesPerTrigger", 1).parquet(src)
    agg = (
        with_watermark(stream, "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "k")
        .agg(F.sum("v").alias("s"))
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{tmp_path}/ckpt_wm")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["w"]["start"]: r["s"] for r in spark.table(name).collect()}
    # The 10:00 window must not include the late v=100 row IF it arrived
    # in a later batch than the 23:30 row (watermark advanced past it).
    # File ordering isn't guaranteed, so accept either outcome but
    # require the on-time rows present.
    assert rows.get(TS(2024, 1, 1, 23, 0)) == 1
    assert rows.get(TS(2024, 1, 1, 10, 0)) in (1, 101)


def test_cdc_stream_merges_batches(spark, tmp_path):
    src = f"{tmp_path}/cdc_src"
    ckpt = f"{tmp_path}/ckpt"
    target = ParquetTargetStore(spark, f"{tmp_path}/target")
    T1, T2 = TS(2024, 1, 1), TS(2024, 1, 2)

    batch1 = spark.createDataFrame(
        [(1, "a", T1, None, "N"), (2, "b", T1, None, "N"), (3, "zz", T1, T1, "Y")], CDC_SCHEMA
    )
    batch1.coalesce(1).write.mode("overwrite").parquet(src)
    run_cdc_stream(spark, src, target, "t1", ["id"], ckpt)
    got = {r["id"]: (r["val"], r["is_deleted"]) for r in target.read("t1").collect()}
    assert got == {1: ("a", "N"), 2: ("b", "N")}  # pre-deleted 3 gated out

    # second micro-batch: update 1, soft-delete 2, insert 4 (+ an
    # intra-batch duplicate for 4 that latest_per_key must collapse)
    batch2 = spark.createDataFrame(
        [
            (1, "a2", T1, T2, "N"),
            (2, "b", T1, T2, "Y"),
            (4, "old", T2, None, "N"),
            (4, "new", T2, TS(2024, 1, 3), "N"),
        ],
        CDC_SCHEMA,
    )
    batch2.coalesce(1).write.mode("append").parquet(src)
    run_cdc_stream(spark, src, target, "t1", ["id"], ckpt)
    got = {r["id"]: (r["val"], r["is_deleted"]) for r in target.read("t1").collect()}
    assert got == {1: ("a2", "N"), 2: ("b", "Y"), 4: ("new", "N")}

    # third run with no new files: checkpoint makes it a no-op
    run_cdc_stream(spark, src, target, "t1", ["id"], ckpt)
    got2 = {r["id"]: (r["val"], r["is_deleted"]) for r in target.read("t1").collect()}
    assert got2 == got


def test_cdc_stream_restores_a_parked_target(spark, tmp_path):
    """A micro-batch after a swap killed between its two renames merges
    into the parked table, not into an empty one."""
    import os

    src = f"{tmp_path}/cdc_src"
    ckpt = f"{tmp_path}/ckpt"
    target = ParquetTargetStore(spark, f"{tmp_path}/target")
    T1, T2 = TS(2024, 1, 1), TS(2024, 1, 2)
    rows = [(i, "a", T1, None, "N") for i in range(1, 6)]
    spark.createDataFrame(rows, CDC_SCHEMA).coalesce(1).write.parquet(src)
    run_cdc_stream(spark, src, target, "t1", ["id"], ckpt)
    os.rename(target.path("t1"), target.path("t1") + ".old-deadbeef")
    batch2 = spark.createDataFrame([(6, "b", T2, None, "N")], CDC_SCHEMA)
    batch2.coalesce(1).write.mode("append").parquet(src)
    run_cdc_stream(spark, src, target, "t1", ["id"], ckpt)
    assert sorted(r["id"] for r in target.read("t1").collect()) == [1, 2, 3, 4, 5, 6]
    assert [n for n in os.listdir(target.root) if n.startswith("t1.")] == ["t1.lock"]
