"""``sources.parquet.footer_schema`` must equal the schema Spark infers,
``spark.read.parquet(p).schema``, while running no Spark job."""

from __future__ import annotations

import datetime
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from oracle_to_oracle_data_integration_pipeline_spark.queries._util import TABLES
from oracle_to_oracle_data_integration_pipeline_spark.sources.parquet import ParquetSource, footer_schema


def _check(spark, jobs_of, path):
    got, jobs = jobs_of(lambda: footer_schema(spark, path))
    assert got == spark.read.parquet(path).schema
    return got, jobs


@pytest.mark.parametrize("table", TABLES)
def test_fixture_tables(spark, jobs_of, sf_dir, table):
    got, jobs = _check(spark, jobs_of, f"{sf_dir}/{table}.parquet")
    assert jobs == []


def test_types_that_inference_rewrites(spark, jobs_of, sf_dir, tmp_path):
    # l_shipdate is a naive timestamp: NTZ inference
    assert footer_schema(spark, f"{sf_dir}/lineitem.parquet")["l_shipdate"].dataType.typeName() == "timestamp_ntz"
    # TIMESTAMP(NANOS), as events.ts has shipped: bigint under nanosAsLong
    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"ts": pa.array([1], pa.timestamp("ns"))}), path)
    got, _ = _check(spark, jobs_of, path)
    assert got["ts"].dataType.typeName() == "long"


def test_spark_written_directory(spark, jobs_of, tmp_path):
    path = str(tmp_path / "t")
    spark.range(5).selectExpr(
        "id",
        "cast(id as decimal(20,3)) as d",
        "cast(cast(id as string) as binary) as b",
        "named_struct('a', id, 'xs', array(id, id + 1)) as n",
        "map('k', id) as m",
        "timestamp_micros(id) as ts",
        "cast(timestamp_micros(id) as timestamp_ntz) as ntz",
        "cast(id as string) as s",
    ).write.parquet(path)
    got, jobs = _check(spark, jobs_of, path)
    assert jobs == []
    assert got["n"].dataType.typeName() == "struct"


def test_pyarrow_written_decimal_binary_nested(spark, jobs_of, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({
        "d": pa.array([decimal.Decimal("1.25")], pa.decimal128(12, 2)),
        "b": pa.array([b"\x00\x01"], pa.binary()),
        "xs": pa.array([[1, 2]], pa.list_(pa.int32())),
        "st": pa.array([{"a": 1, "s": "x"}], pa.struct([("a", pa.int16()), ("s", pa.string())])),
        "m": pa.array([[("k", 1.5)]], pa.map_(pa.string(), pa.float64())),
        "ts": pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("us", tz="UTC")),
        "day": pa.array([datetime.date(2024, 1, 1)], pa.date32()),
    }), path)
    got, jobs = _check(spark, jobs_of, path)
    assert jobs == []


def test_layouts_it_cannot_mirror_fall_back_to_inference(spark, tmp_path):
    """A hive-partitioned directory carries its partition column, which
    no footer holds: plain inference answers."""
    pq.write_table(pa.table({"x": [1]}), f"{tmp_path}/part-0.parquet")
    os.makedirs(tmp_path / "hive" / "p=1")
    pq.write_table(pa.table({"x": [1]}), f"{tmp_path}/hive/p=1/part-0.parquet")
    got = footer_schema(spark, str(tmp_path / "hive"))
    assert got == spark.read.parquet(str(tmp_path / "hive")).schema
    assert got.names == ["x", "p"]


def test_parquet_source_loads_both_layouts_without_a_job(spark, jobs_of, tmp_path):
    pq.write_table(pa.table({"id": [1, 2]}), f"{tmp_path}/a.parquet")
    os.makedirs(tmp_path / "b")
    pq.write_table(pa.table({"id": [3]}), f"{tmp_path}/b/part-0.parquet")
    src = ParquetSource(spark, str(tmp_path))
    df, jobs = jobs_of(lambda: src.load("a"))
    assert jobs == []
    assert sorted(r.id for r in df.collect()) == [1, 2]
    assert [r.id for r in src.load("b").collect()] == [3]
