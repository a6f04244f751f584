"""Python DataSource WRITER (audit_sink): two-phase commit, manifest
isolation, abort cleanliness, streaming per-batch manifests."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from oracle_to_oracle_data_integration_pipeline_spark.sources.pydatasource import (
    read_audit,
    register_sink,
)

SCHEMA = "k long, v string"


def test_batch_write_roundtrip(spark, tmp_path):
    register_sink(spark)
    path = str(tmp_path / "sink")
    df = spark.range(100).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    ).repartition(4)
    df.write.format("audit_sink").option("path", path).mode("append").save()
    got = {(r["k"], r["v"]) for r in read_audit(spark, path, SCHEMA).collect()}
    assert got == {(i, f"v{i}") for i in range(100)}
    # one staged file per partition, all published via the manifest
    m = json.load(open(os.path.join(path, "_manifest.json")))
    assert len(m["files"]) == 4 and m["n_rows"] == 100


def test_orphan_staged_file_is_invisible(spark, tmp_path):
    """Readers list the manifest, never the directory: a stage file
    from a lost task attempt (or a concurrent unfinished write) must
    not appear in reads."""
    register_sink(spark)
    path = str(tmp_path / "sink")
    spark.range(10).select(F.col("id").alias("k"), F.lit("x").alias("v")).write.format(
        "audit_sink"
    ).option("path", path).mode("append").save()
    # plant an orphan in BOTH _staged and data (only manifest governs)
    with open(os.path.join(path, "_staged", "part-9-999.jsonl"), "w") as f:
        f.write('{"k": 777, "v": "orphan"}\n')
    with open(os.path.join(path, "data", "part-9-999.jsonl"), "w") as f:
        f.write('{"k": 777, "v": "orphan"}\n')
    ks = {r["k"] for r in read_audit(spark, path, SCHEMA).collect()}
    assert 777 not in ks and len(ks) == 10


def test_failed_write_publishes_nothing(spark, tmp_path):
    """A write whose task fails commits no manifest — read_audit sees
    an empty sink, not partial data."""
    import pytest

    register_sink(spark)
    path = str(tmp_path / "sink")
    bad = spark.range(10).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 5, F.lit("ok"))
        .otherwise(F.raise_error(F.lit("boom")))
        .alias("v"),
    )
    with pytest.raises(Exception, match="boom"):
        bad.write.format("audit_sink").option("path", path).mode("append").save()
    assert not os.path.exists(os.path.join(path, "_manifest.json"))
    assert read_audit(spark, path, SCHEMA).count() == 0


def test_stream_write_per_batch_manifests(spark, tmp_path):
    """Streaming writer: one manifest per micro-batch; the union of
    manifest-listed files equals everything streamed."""
    import time

    from oracle_to_oracle_data_integration_pipeline_spark.sources.pydatasource import (
        register,
    )

    register(spark)
    register_sink(spark)
    path = str(tmp_path / "sink")
    q = (
        spark.readStream.format("cdc_feed")
        .option("n_rows", 300)
        .option("n_keys", 30)
        .option("batch_rows", 100)
        .load()
        .writeStream.format("audit_sink")
        .option("path", path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        schema = "op string, id long, val string, ts timestamp"
        while True:
            if q.exception() is not None:
                raise q.exception()
            if os.path.isdir(path) and read_audit(spark, path, schema).count() >= 300:
                break
            if time.time() > deadline:
                raise TimeoutError("stream did not drain")
            time.sleep(0.2)
    finally:
        q.stop()
    manifests = [n for n in os.listdir(path) if n.startswith("_manifest-")]
    assert len(manifests) >= 3  # one per committed micro-batch
    got = read_audit(spark, path, schema)
    assert got.count() == 300
    assert got.select("id").distinct().count() == 30


def test_a_started_write_creates_the_sink_and_a_wrong_path_raises(spark, tmp_path):
    """The batch writer creates the sink directory when the write
    starts, so a write whose tasks all fail before staging a file
    still leaves an empty sink; a path nothing wrote to still raises."""
    import pytest

    from oracle_to_oracle_data_integration_pipeline_spark.sources.pydatasource import AuditSinkWriter

    path = str(tmp_path / "sink")
    AuditSinkWriter({"path": path})
    assert read_audit(spark, path, SCHEMA).count() == 0
    with pytest.raises(FileNotFoundError):
        read_audit(spark, str(tmp_path / "never_written"), SCHEMA)
