"""CDC merge scenario matrix (FIXTURES.md "CDC-shaped derived
fixtures"): pins the reference MERGE semantics including the surprising
insert gate (`/root/reference/scripts/03_cdc_etl.py:145-157`)."""

from __future__ import annotations

import datetime
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oracle_to_oracle_data_integration_pipeline_spark.operators.cdc import (
    change_ts_col,
    delta_predicate,
    latest_per_key,
    merge_attribution,
    merge_soft_delete,
)

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


def mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


T1 = TS(2024, 1, 1)
T2 = TS(2024, 1, 2)
T3 = TS(2024, 1, 3)


@pytest.fixture()
def target(spark):
    return mk(
        spark,
        [
            (1, "a", T1, None, "N"),
            (2, "b", T1, None, "N"),
            (3, "c", T1, None, "N"),
        ],
    )


def as_map(df):
    return {r["id"]: (r["val"], r["is_deleted"]) for r in df.collect()}


def test_insert_only(spark, target):
    delta = mk(spark, [(4, "d", T2, None, "N")])
    res = merge_soft_delete(target, delta, ["id"])
    assert as_map(res.df) == {1: ("a", "N"), 2: ("b", "N"), 3: ("c", "N"), 4: ("d", "N")}
    s = res.stats()
    assert (s.inserted, s.updated, s.dropped_deletes) == (1, 0, 0)


def test_update_only(spark, target):
    delta = mk(spark, [(2, "b2", T1, T2, "N")])
    res = merge_soft_delete(target, delta, ["id"])
    assert as_map(res.df)[2] == ("b2", "N")
    s = res.stats()
    assert (s.inserted, s.updated, s.dropped_deletes) == (0, 1, 0)


def test_soft_delete_existing(spark, target):
    delta = mk(spark, [(3, "c", T1, T2, "Y")])
    res = merge_soft_delete(target, delta, ["id"])
    m = as_map(res.df)
    assert m[3] == ("c", "Y")  # flag flips, row stays (soft delete)
    assert len(m) == 3


def test_soft_delete_never_replicated_dropped(spark, target):
    """Pinned reference behavior: delete for an unseen key vanishes
    (`/root/reference/scripts/03_cdc_etl.py:152-156`)."""
    delta = mk(spark, [(99, "zz", T2, T2, "Y")])
    res = merge_soft_delete(target, delta, ["id"])
    m = as_map(res.df)
    assert 99 not in m and len(m) == 3
    s = res.stats()
    assert (s.inserted, s.updated, s.dropped_deletes) == (0, 0, 1)


def test_mixed_batch_attribution(spark, target):
    delta = mk(
        spark,
        [
            (1, "a2", T1, T2, "N"),   # update
            (3, "c", T1, T2, "Y"),    # soft delete existing
            (5, "e", T2, None, "N"),  # insert
            (98, "x", T2, T2, "Y"),   # dropped delete
        ],
    )
    res = merge_soft_delete(target, delta, ["id"])
    m = as_map(res.df)
    assert m == {1: ("a2", "N"), 2: ("b", "N"), 3: ("c", "Y"), 5: ("e", "N")}
    s = res.stats()
    assert (s.updated, s.inserted, s.dropped_deletes) == (2, 1, 1)
    # merge_attribution DataFrame agrees
    row = merge_attribution(target, delta, ["id"]).collect()[0]
    assert (row["updated_count"], row["inserted_count"], row["dropped_count"]) == (2, 1, 1)


@pytest.mark.parametrize("strategy", ["shuffle", "broadcast_delta"])
def test_observed_max_change_ts_counts_gated_deletes(spark, target, strategy):
    """The max change time is observed below the insert gate: the
    dropped soft-delete at T3 is the batch's newest change."""
    delta = mk(spark, [(1, "a2", T1, T2, "N"), (98, "x", T2, T3, "Y")])
    res = merge_soft_delete(target, delta, ["id"], strategy=strategy)
    assert 98 not in as_map(res.df)
    s = res.stats()
    assert (s.updated, s.inserted, s.dropped_deletes, s.max_change_ts) == (1, 0, 1, T3)


@pytest.mark.parametrize("strategy", ["shuffle", "broadcast_delta"])
def test_merge_without_cdc_columns(spark, strategy):
    """Snapshot and stream callers merge frames with no created/updated
    columns: the counts are observed, the max change time is None."""
    schema = "id long, val string, is_deleted string"
    tgt = spark.createDataFrame([(1, "a", "N"), (2, "b", "N")], schema)
    delta = spark.createDataFrame([(2, "b2", "N"), (3, "c", "N"), (4, "d", "Y")], schema)
    res = merge_soft_delete(tgt, delta, ["id"], strategy=strategy)
    assert as_map(res.df) == {1: ("a", "N"), 2: ("b2", "N"), 3: ("c", "N")}
    s = res.stats()
    assert (s.updated, s.inserted, s.dropped_deletes, s.max_change_ts) == (1, 1, 1, None)


def test_stats_of_an_unexecuted_merge_does_not_block(spark, target):
    """No action has run ``df``: stats() must run it rather than wait
    on an observation nothing will fill."""
    delta = mk(spark, [(1, "a2", T1, T2, "N"), (5, "e", T2, None, "N"), (98, "x", T2, T3, "Y")])
    res = merge_soft_delete(target, delta, ["id"])
    got = []
    worker = threading.Thread(target=lambda: got.append(res.stats()), daemon=True)
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive(), "stats() blocked on an unfilled observation"
    s = got[0]
    assert (s.updated, s.inserted, s.dropped_deletes, s.max_change_ts) == (1, 1, 1, T3)


def test_empty_delta(spark, target):
    delta = mk(spark, [])
    res = merge_soft_delete(target, delta, ["id"])
    assert as_map(res.df) == as_map(target)


def test_composite_pk(spark):
    schema = T.StructType(
        [
            T.StructField("k1", T.LongType(), False),
            T.StructField("k2", T.IntegerType(), False),
            T.StructField("val", T.StringType(), True),
            T.StructField("created_at", T.TimestampType(), True),
            T.StructField("updated_at", T.TimestampType(), True),
            T.StructField("is_deleted", T.StringType(), False),
        ]
    )
    target = spark.createDataFrame([(1, 1, "a", T1, None, "N"), (1, 2, "b", T1, None, "N")], schema)
    delta = spark.createDataFrame([(1, 2, "b2", T1, T2, "N"), (2, 1, "c", T2, None, "N")], schema)
    res = merge_soft_delete(target, delta, ["k1", "k2"])
    got = {(r["k1"], r["k2"]): r["val"] for r in res.df.collect()}
    assert got == {(1, 1): "a", (1, 2): "b2", (2, 1): "c"}


def test_duplicate_pk_in_batch_latest_wins(spark, target):
    delta = mk(
        spark,
        [
            (2, "old", T1, T2, "N"),
            (2, "new", T1, T3, "N"),
        ],
    )
    res = merge_soft_delete(target, delta, ["id"], dedup_delta=True)
    assert as_map(res.df)[2] == ("new", "N")


def test_replayed_batch_idempotent(spark, target):
    """At-least-once delivery: replaying the same batch is a no-op
    (`/root/reference/README.md:287` protocol)."""
    delta = mk(spark, [(1, "a2", T1, T2, "N"), (6, "f", T2, None, "N")])
    once = merge_soft_delete(target, delta, ["id"]).df
    twice = merge_soft_delete(once, delta, ["id"]).df
    assert as_map(once) == as_map(twice)


def test_null_updated_at_change_ts(spark):
    df = mk(spark, [(1, "a", T2, None, "N"), (2, "b", T1, T3, "N")])
    got = {r["id"]: r["cts"] for r in df.select("id", change_ts_col().alias("cts")).collect()}
    assert got == {1: T2, 2: T3}


def test_delta_predicate_rewrite_equivalence(spark):
    """created > ts OR updated > ts  ≡  change_ts > ts (pushdown-safe
    rewrite, SURVEY.md §4)."""
    rows = [
        (1, "a", T1, None, "N"),
        (2, "b", T1, T3, "N"),
        (3, "c", T3, None, "N"),
        (4, "d", T1, T2, "N"),
    ]
    df = mk(spark, rows)
    wm = T2
    via_rewrite = {r["id"] for r in df.filter(delta_predicate(wm)).collect()}
    via_derived = {r["id"] for r in df.filter(change_ts_col() > F.lit(wm)).collect()}
    assert via_rewrite == via_derived == {2, 3}


def test_delta_predicate_none_is_full_load():
    assert delta_predicate(None) is None


def test_latest_per_key_deterministic(spark):
    df = mk(
        spark,
        [
            (1, "v1", T1, T2, "N"),
            (1, "v2", T1, T3, "N"),
            (2, "w1", T2, None, "N"),
        ],
    )
    out = latest_per_key(df, ["id"])
    assert {r["id"]: r["val"] for r in out.collect()} == {1: "v2", 2: "w1"}
