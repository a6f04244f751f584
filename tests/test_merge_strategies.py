"""Both merge strategies must produce identical results and stats;
broadcast_delta must never shuffle the target."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import types as T

from oracle_to_oracle_data_integration_pipeline_spark.operators.cdc import merge_soft_delete
from oracle_to_oracle_data_integration_pipeline_spark.queries.cdc_queries import _target_delta

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


def test_strategies_equivalent_on_fixture(spark, sf_dir):
    target, delta = _target_delta(spark, sf_dir)
    a = merge_soft_delete(target, delta, ["o_orderkey"], strategy="shuffle")
    b = merge_soft_delete(target, delta, ["o_orderkey"], strategy="broadcast_delta")
    rows_a = {tuple(r) for r in a.df.collect()}
    rows_b = {tuple(r) for r in b.df.collect()}
    assert rows_a == rows_b and len(rows_a) > 0
    sa, sb = a.stats(), b.stats()
    assert (sa.updated, sa.inserted, sa.dropped_deletes) == (sb.updated, sb.inserted, sb.dropped_deletes)


def test_strategies_equivalent_mixed_batch(spark):
    T1, T2 = TS(2024, 1, 1), TS(2024, 1, 2)
    target = spark.createDataFrame(
        [(1, "a", T1, None, "N"), (2, "b", T1, None, "N"), (3, "c", T1, None, "N")], SCHEMA
    )
    delta = spark.createDataFrame(
        [
            (1, "a2", T1, T2, "N"),   # update
            (3, "c", T1, T2, "Y"),    # soft delete existing
            (5, "e", T2, None, "N"),  # insert
            (98, "x", T2, T2, "Y"),   # dropped delete
        ],
        SCHEMA,
    )
    for strategy in ("shuffle", "broadcast_delta"):
        res = merge_soft_delete(target, delta, ["id"], strategy=strategy)
        got = {r["id"]: (r["val"], r["is_deleted"]) for r in res.df.collect()}
        assert got == {1: ("a2", "N"), 2: ("b", "N"), 3: ("c", "Y"), 5: ("e", "N")}, strategy
        s = res.stats()
        assert (s.updated, s.inserted, s.dropped_deletes) == (2, 1, 1), strategy


def test_broadcast_delta_never_shuffles_target(spark, sf_dir):
    target, delta = _target_delta(spark, sf_dir)
    res = merge_soft_delete(target, delta.limit(50), ["o_orderkey"], strategy="broadcast_delta")
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan, "target must not shuffle"
    assert plan.count("BroadcastHashJoin") >= 2  # anti + semi (+ delta resolve)


def test_unknown_strategy_raises(spark):
    df = spark.createDataFrame([], SCHEMA)
    with pytest.raises(ValueError, match="unknown merge strategy"):
        merge_soft_delete(df, df, ["id"], strategy="nope")
