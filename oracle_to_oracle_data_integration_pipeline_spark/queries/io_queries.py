"""I/O & state qids (SURVEY.md §2.1 S2/S11, §2.4 A1): the sink append
path, the watermark store round-trip, and the delta-count gate.

These exercise real writes: each call uses a fresh temp directory, so
repeated driver runs are isolated.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oracle_to_oracle_data_integration_pipeline_spark.operators.watermark import WatermarkStore
from oracle_to_oracle_data_integration_pipeline_spark.queries._util import load, local_result, scratch_dir, tune
from oracle_to_oracle_data_integration_pipeline_spark.queries.cdc_queries import CDC_SRC_SQL, WM, cdc_orders
from oracle_to_oracle_data_integration_pipeline_spark.operators.cdc import change_ts_col, delta_predicate


# -- qid: sink_append (S2: batched append write path) -----------------

def q_sink_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the recent-orders slice in two append batches (the
    reference's staging write, `/root/reference/scripts/03_cdc_etl.py:309-319`),
    read it back. The oracle is the logical content — proving the sink
    neither drops nor duplicates rows across appends."""
    tune(spark)
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    out = tempfile.mkdtemp(prefix="sink_append_")
    first = o.filter(F.col("o_orderkey") % 2 == 0)
    second = o.filter(F.col("o_orderkey") % 2 == 1)
    first.write.mode("append").parquet(out)
    second.write.mode("append").parquet(out)
    return spark.read.parquet(out)


SQL_SINK_APPEND = """
SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
"""


# -- qid: watermark_store (S11: keyed persistent state) ---------------

def q_watermark_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get/upsert round-trip incl. an overwriting upsert — MERGE
    semantics of the reference's ETL_WATERMARKS
    (`/root/reference/scripts/03_cdc_etl.py:56-96`)."""
    tune(spark)
    import datetime

    store = WatermarkStore(spark, tempfile.mkdtemp(prefix="wm_") + "/state")
    store.upsert("orders", datetime.datetime(2001, 1, 1))
    store.upsert("lineitem", datetime.datetime(2001, 2, 2))
    store.upsert("orders", datetime.datetime(2001, 3, 3))  # upsert overwrites
    assert store.get("missing") is None  # NULL watermark → full load
    rows = [(k, v) for k, v in sorted(store.all().items())]
    return local_result(spark, rows, "table_name string, last_ts timestamp")


SQL_WATERMARK_STORE = """
SELECT * FROM (VALUES
  ('LINEITEM', TIMESTAMP '2001-02-02'),
  ('ORDERS',   TIMESTAMP '2001-03-03')
) AS t(table_name, last_ts)
"""


# -- qid: delta_count (A1: empty-delta gate) --------------------------

def q_delta_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's cardinality gate
    (`/root/reference/scripts/03_cdc_etl.py:296-301`); in-engine the
    pipeline uses isEmpty() instead of a full count, but the count
    itself is the checkable contract."""
    import datetime

    wm = datetime.datetime.fromisoformat(WM)
    delta = cdc_orders(spark, sf_dir).filter(delta_predicate(wm))
    return delta.agg(F.count(F.lit(1)).alias("delta_rows"))


SQL_DELTA_COUNT = f"""
WITH {CDC_SRC_SQL}
SELECT count(*) AS delta_rows FROM cdc_src
WHERE created_at > TIMESTAMP '{WM}' OR updated_at > TIMESTAMP '{WM}'
"""


# -- qid: pysource_changefeed (Spark 4 Python DataSource, batch) ------

def q_pysource_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the user-pluggable Python DataSource
    (sources/pydatasource.py): 1000 synthetic CDC events over 100 keys
    from 4 planned input partitions. Rows are a pure function of the
    row index (md5-derived), so the DuckDB oracle regenerates the
    byte-identical feed from generate_series — proving the source's
    partition planning and per-partition iterators deliver exactly the
    declared rows, no dupes or gaps across partitions."""
    from oracle_to_oracle_data_integration_pipeline_spark.sources.pydatasource import register

    tune(spark)
    register(spark)
    return (
        spark.read.format("cdc_feed")
        .option("n_rows", 1000).option("n_keys", 100).option("n_parts", 4)
        .load()
    )


SQL_PYSOURCE = """
WITH g AS (SELECT unnest(generate_series(0, 999)) AS i),
h AS (SELECT i, md5(CAST(i AS VARCHAR)) AS h,
             instr('0123456789abcdef', substring(md5(CAST(i AS VARCHAR)), 1, 1)) - 1 AS d
      FROM g)
SELECT CASE WHEN d < 8 THEN 'I' WHEN d < 14 THEN 'U' ELSE 'D' END AS op,
       CAST(i % 100 AS BIGINT) AS id,
       substring(h, 1, 8) AS val,
       TIMESTAMP '2024-01-01' + i * INTERVAL 1 SECOND AS ts
FROM h
"""


# -- qid: stream_pysource (Python DataSource streaming reader) --------

def q_stream_pysource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same feed through the source's STREAMING reader
    (SimpleDataSourceStreamReader): continuous micro-batches advance
    the offset 100 rows at a time until all 1000 rows have flowed into
    the sink; the union of the micro-batches must equal the batch read
    — the replayable-offset contract a CDC feed needs. (availableNow
    cannot drain a Python simple stream reader past its first
    prefetched batch, so the query is polled to completion and
    stopped — the same run-until-caught-up loop the reference's cron
    rerun performs.)"""
    import time as _time
    import uuid

    from oracle_to_oracle_data_integration_pipeline_spark.sources.pydatasource import register

    tune(spark)
    register(spark)
    name = f"pysrc_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("cdc_feed")
        .option("n_rows", 1000).option("n_keys", 100).option("batch_rows", 100)
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = _time.time() + 120
        while spark.table(name).count() < 1000:
            if q.exception() is not None:
                raise q.exception()
            if _time.time() > deadline:
                raise TimeoutError("cdc_feed stream did not drain in 120s")
            _time.sleep(0.2)
        sunk = spark.table(name)
        return local_result(spark, sunk.collect(), sunk.schema)
    finally:
        try:
            q.stop()
        except Exception:
            pass
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass


# -- qid: observe_metrics (single-pass run-report via CollectMetrics) --

def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-report statistics WITHOUT a second pass: the reference
    derives its per-run report from separate COUNT queries after the
    merge (scripts/03_cdc_etl.py:168-169 — extra full passes, and
    wrong under dropped soft-deletes); this pins Spark's
    ``df.observe`` / CollectMetrics instead — accumulator-style
    metrics collected DURING the one delta pass, free at any scale.
    The observed (n_rows, n_deleted, sum_price) over the CDC delta
    are returned as the result row; the oracle recomputes them as
    ordinary aggregates, so the qid certifies that piggy-backed
    metrics equal a dedicated aggregation pass."""
    from pyspark.sql import Observation

    tune(spark)
    delta = cdc_orders(spark, sf_dir).where(
        change_ts_col() > F.lit(WM).cast("timestamp")
    )
    obs = Observation("run_report")
    observed = delta.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("is_deleted") == "Y", 1).otherwise(0))
        .cast("bigint")
        .alias("n_deleted"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(24,6)")), 2)
        .cast("double")
        .alias("sum_price"),
    )
    observed.write.mode("overwrite").format("noop").save()  # the ONE pass
    m = obs.get
    return local_result(
        spark,
        [(m["n_rows"], m["n_deleted"], m["sum_price"])],
        "n_rows bigint, n_deleted bigint, sum_price double",
    )


def _sql_observe_metrics() -> str:
    return f"""
WITH {CDC_SRC_SQL}
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN is_deleted = 'Y' THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(24,6))), 2) AS DOUBLE) AS sum_price
FROM cdc_src
WHERE greatest(coalesce(updated_at, created_at), created_at) > TIMESTAMP '{WM}'
"""


# -- qid: snapshot_merge ------------------------------------------------

def q_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional CDC merge through the manifest snapshot store
    (sources/snapshots.py — the table-format mechanism: immutable
    version dirs, manifest, one atomic pointer swap): commit a base
    version of orders, merge a CDC-shaped delta copy-on-write, read
    the LATEST snapshot back and fold it to a per-status audit, with
    the committed version and retained history as literal columns —
    proving commit/merge/read AND the version lineage.

    Parity: the merged rows are exactly `merge_soft_delete`'s (the
    reference's Oracle MERGE semantics, scripts/03_cdc_etl.py:145-161)
    but published atomically — the last production-parity gap of the
    directory-swap sink, closed without requiring delta-spark. A Delta
    or Iceberg deployment runs merge_soft_delete's semantics as its
    own MERGE INTO.

    Harness shape: tempdir per run, result materialized eagerly so the
    store can be cleaned up (the sql_ddl_roundtrip pattern); the merge
    itself is the distributed full-outer plan, never driver-side."""
    import shutil

    from oracle_to_oracle_data_integration_pipeline_spark.sources.snapshots import (
        SnapshotStore,
    )

    tune(spark)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).withColumn("is_deleted", F.lit("N"))
    # keys ÷3∧÷5 are matched updates/soft-deletes; ÷15 are unseen keys
    # (inserts when 'N', gate-dropped tombstones when 'Y') — every
    # merge arm exercised
    base = o.where(F.col("o_orderkey") % 5 != 0)
    delta = o.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 9 == 0, F.lit("Y"))
        .otherwise(F.lit("N"))
        .alias("is_deleted"),
    )
    root = scratch_dir("snapstore_")
    try:
        store = SnapshotStore(spark, root)
        store.commit(base, "orders")
        version, _ = store.merge(delta, "orders", ["o_orderkey"])
        n_versions = len(store.history("orders"))
        audit = (
            store.read("orders")
            .groupBy("o_orderstatus", "is_deleted")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(24,6)")), 2
                )
                .cast("double")
                .alias("sum_price"),
            )
            .withColumn("committed_version", F.lit(version))
            .withColumn("n_versions", F.lit(n_versions))
        )
        rows = audit.collect()
        return local_result(spark, rows, audit.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# the merge algebra in SQL: delta rows replace matched base rows
# (including soft deletes, which stay visible with is_deleted='Y');
# unmatched NON-tombstone delta rows insert; unmatched tombstones drop
SQL_SNAPSHOT_MERGE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 'N' AS is_deleted
  FROM orders WHERE o_orderkey % 5 <> 0
),
delta AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice + 1.0 AS o_totalprice,
         CASE WHEN o_orderkey % 9 = 0 THEN 'Y' ELSE 'N' END AS is_deleted
  FROM orders WHERE o_orderkey % 3 = 0
),
merged AS (
  SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice, b.is_deleted
  FROM base b LEFT JOIN delta d USING (o_orderkey) WHERE d.o_orderkey IS NULL
  UNION ALL
  SELECT d.o_orderkey, d.o_orderstatus, d.o_totalprice, d.is_deleted
  FROM delta d JOIN base b USING (o_orderkey)
  UNION ALL
  SELECT d.o_orderkey, d.o_orderstatus, d.o_totalprice, d.is_deleted
  FROM delta d LEFT JOIN base b USING (o_orderkey)
  WHERE b.o_orderkey IS NULL AND d.is_deleted = 'N'
)
SELECT o_orderstatus, is_deleted, count(*) AS n_rows,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(24,6))), 2) AS DOUBLE)
         AS sum_price,
       1 AS committed_version, 2 AS n_versions
FROM merged GROUP BY o_orderstatus, is_deleted
"""


# -- qid: pysink_audit ---------------------------------------------------

def q_pysink_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python DataSource surface closed FULL CIRCLE: the synthetic
    CDC feed is read through the Python SOURCE (partition-planned
    batch reader) and written through the Python SINK
    (sources/pydatasource.py audit_sink — the two-phase-commit JSONL
    writer: tasks stage, the driver publishes exactly the surviving
    commit messages via one atomic manifest replace), then read back
    MANIFEST-ONLY. The oracle regenerates the identical feed in SQL,
    so the hash compare certifies both halves: the source planned and
    produced exactly the declared rows, and the sink published all of
    them exactly once (a dropped stage file or double-published
    attempt would flip row counts)."""
    import shutil

    from oracle_to_oracle_data_integration_pipeline_spark.sources.pydatasource import (
        read_audit,
        register,
        register_sink,
    )

    tune(spark)
    register(spark)
    register_sink(spark)
    out = scratch_dir("pysink_")
    try:
        feed = (
            spark.read.format("cdc_feed")
            .option("n_rows", 1000).option("n_keys", 100).option("n_parts", 4)
            .load()
        )
        feed.write.format("audit_sink").option("path", out).mode("append").save()
        back = read_audit(spark, out, "op string, id long, val string, ts timestamp")
        rows = back.collect()
        return local_result(spark, rows, back.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


QUERIES = {
    "sink_append": q_sink_append,
    "watermark_store": q_watermark_store,
    "delta_count": q_delta_count,
    "pysource_changefeed": q_pysource_changefeed,
    "stream_pysource": q_stream_pysource,
    "observe_metrics": q_observe_metrics,
    "snapshot_merge": q_snapshot_merge,
    "pysink_audit": q_pysink_audit,
}

ORACLE_SQL = {
    "sink_append": SQL_SINK_APPEND,
    "watermark_store": SQL_WATERMARK_STORE,
    "pysource_changefeed": SQL_PYSOURCE,
    "stream_pysource": SQL_PYSOURCE,
    "delta_count": SQL_DELTA_COUNT,
    "observe_metrics": _sql_observe_metrics(),
    "snapshot_merge": SQL_SNAPSHOT_MERGE,
    "pysink_audit": SQL_PYSOURCE,
}


# -- qid: federated_join -------------------------------------------------

def q_federated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEDERATED query: a live JDBC relation (embedded Derby — the
    same wire Spark's Oracle connector uses, differing only in
    dialect) joined with parquet in ONE plan — the hybrid read every
    migration period lives with (dimension still in the RDBMS, facts
    already on the lake). The nation dimension is written INTO Derby
    through the engine's JdbcSink, read back via JdbcSource with the
    region predicate rendered into the remote subquery
    (pushdown_subquery — the reference's missing remote filter,
    SURVEY §4), then broadcast-joined to the parquet customer table.

    Harness: a per-run embedded Derby database in a tempdir; the
    oracle answers the same join from the parquet twin — hash
    equality certifies the RDBMS round-trip byte-preserved the
    dimension AND the remote predicate dropped exactly the rows the
    SQL twin's WHERE drops.

    Scale: the JDBC side is dimension-sized and broadcasts (at 100 TB
    the fact side never moves for this join); the remote predicate
    ships the filter to the database, so the wire carries only
    surviving dimension rows.
    """
    import shutil

    from oracle_to_oracle_data_integration_pipeline_spark.sources.jdbc import (
        JdbcSink,
        JdbcSource,
    )

    tune(spark)
    d = scratch_dir("fedjoin_")
    url = f"jdbc:derby:{d}/db;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    try:
        nation = load(spark, sf_dir, "nation")
        JdbcSink(url, properties=props).write(nation, "nation_rdbms", "overwrite")
        remote_dim = JdbcSource(spark, url, properties=props).load_where(
            "nation_rdbms", None, predicate_sql='"n_regionkey" IN (0, 1)'
        )
        cu = load(spark, sf_dir, "customer")
        joined = (
            cu.join(
                F.broadcast(remote_dim),
                cu["c_nationkey"] == remote_dim["n_nationkey"],
            )
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).alias("n_customers"),
                F.round(F.sum(F.col("c_acctbal").cast("decimal(24,6)")), 2)
                .cast("double")
                .alias("total_balance"),
            )
        )
        rows = joined.collect()
        return local_result(spark, rows, joined.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


SQL_FEDERATED_JOIN = """
SELECT n_name, count(*) AS n_customers,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(24,6))), 2) AS DOUBLE)
         AS total_balance
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE n_regionkey IN (0, 1)
GROUP BY n_name
"""

QUERIES["federated_join"] = q_federated_join
ORACLE_SQL["federated_join"] = SQL_FEDERATED_JOIN


# -- qid: snapshot_cdf ------------------------------------------------------

def q_snapshot_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED off the snapshot store: after a CoW merge, the
    row-level delta between version 0 and version 1 — (key, op) — is
    re-derived from the immutable versions themselves, so any
    downstream consumer (a replica, an index, the ivm_join delta
    algebra) can re-pull the exact feed after a crash instead of
    trusting a one-shot stream. The oracle derives the same ops from
    the merge ALGEBRA (matched delta keys update — the delta always
    moves the price; unmatched non-tombstones insert), so hash
    equality proves the diff reconstructs precisely what the merge
    did. Scale: one keyed full-outer join of two versions with
    scan-side row digests (operators/reconcile idiom)."""
    import shutil

    from oracle_to_oracle_data_integration_pipeline_spark.sources.snapshots import (
        SnapshotStore,
    )

    tune(spark)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).withColumn("is_deleted", F.lit("N"))
    base = o.where(F.col("o_orderkey") % 5 != 0)
    delta = o.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 9 == 0, F.lit("Y"))
        .otherwise(F.lit("N"))
        .alias("is_deleted"),
    )
    root = scratch_dir("cdf_")
    try:
        store = SnapshotStore(spark, root)
        store.commit(base, "orders")
        store.merge(delta, "orders", ["o_orderkey"])
        feed = store.changes("orders", 0, 1, ["o_orderkey"])
        # the store dir dies in finally, so the feed must materialize
        # first — DISTRIBUTED (executor blocks), never via collect:
        # the feed is corpus-sized (46k rows at sf0.1, growing with
        # SF), exactly the driver-collect growth tools/collect_audit.py
        # exists to flag (round-7 find). Repeat-flatness under the
        # checkpoint arm is pinned by tools/repeat_stability.py.
        return feed.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_SNAPSHOT_CDF = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 5 <> 0 THEN 'update' ELSE 'insert' END AS op
FROM orders
WHERE o_orderkey % 3 = 0
  AND NOT (o_orderkey % 5 = 0 AND o_orderkey % 9 = 0)
  -- a NULL price is NOT moved by the delta's +1.0 (NULL + 1 = NULL),
  -- so a matched key whose only would-be change is the price update
  -- genuinely did not change and the feed must stay silent — the
  -- store's null-safe row digest gets this right; the old oracle's
  -- "the delta always moves the price" assumption did not (fuzz find,
  -- tools/fuzz_parity.py nulls profile). The %9 tombstone keys still
  -- change (is_deleted N -> Y) even with a NULL price.
  AND NOT (o_orderkey % 5 <> 0 AND o_orderkey % 9 <> 0 AND o_totalprice IS NULL)
"""


# -- qid: wap_publish ---------------------------------------------------------

def q_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH through the snapshot store: three batches
    flow through stage → audit-the-written-files → atomic publish;
    the middle batch carries injected violations (NULL status on keys
    ÷51) and must be QUARANTINED — pointer untouched, no reader ever
    saw it — while the clean batches publish as versions 0 and 1. The
    output is the audit log (per batch: published flag + violation
    count) plus the surviving table state (rows, latest version),
    which the oracle recomputes from the same rules — proving the
    gate actually kept the bad batch out of the lineage.

    Scale: audits are combinable counts over the staged files; the
    publish is the store's O(1) pointer swap; rejection costs one
    directory rename."""
    import shutil

    from oracle_to_oracle_data_integration_pipeline_spark.sources.snapshots import (
        SnapshotStore,
    )

    tune(spark)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    rules = {"status_null": F.col("o_orderstatus").isNull()}
    b0 = o.where(F.col("o_orderkey") % 2 == 0)
    b1 = o.where(F.col("o_orderkey") % 2 == 1).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 51 == 0, F.lit(None)).otherwise(
            F.col("o_orderstatus")
        ),
    )
    b2 = o.where(F.col("o_orderkey") % 2 == 1)
    root = scratch_dir("wap_")
    try:
        store = SnapshotStore(spark, root)
        log = []
        for name, batch in [("b0_clean", b0), ("b1_dirty", b1), ("b2_clean", b2)]:
            ok, _, counts = store.write_audit_publish(batch, "orders", rules)
            log.append((name, int(ok), int(sum(counts.values()))))
        final_rows = store.read("orders").count()
        latest = store.latest_version("orders")
        return local_result(
            spark,
            [(b, p, v, final_rows, latest) for b, p, v in log],
            "batch string, published int, n_violations bigint, "
            "final_rows bigint, latest_version int",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Derives every outcome from the audit RULE itself (published iff the
# batch's own status_null count is zero; versions count published
# batches; final state = last published batch) instead of hardcoding
# "b1 never publishes": on data without %51 keys b1 is genuinely
# clean and MUST publish — the gate's behavior, not the fixture's
# accident, is the contract (fuzz find, tools/fuzz_parity.py tiny
# profile, where the hardcoded form failed).
SQL_WAP_PUBLISH = """
WITH even AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
odd  AS (SELECT * FROM orders WHERE o_orderkey % 2 = 1),
b AS (
  SELECT 'b0_clean' AS batch, 0 AS ord,
         (SELECT count(*) FROM even WHERE o_orderstatus IS NULL) AS n_violations,
         (SELECT count(*) FROM even) AS batch_rows
  UNION ALL
  SELECT 'b1_dirty', 1,
         (SELECT count(*) FROM odd
          WHERE o_orderkey % 51 = 0 OR o_orderstatus IS NULL),
         (SELECT count(*) FROM odd)
  UNION ALL
  SELECT 'b2_clean', 2,
         (SELECT count(*) FROM odd WHERE o_orderstatus IS NULL),
         (SELECT count(*) FROM odd)
),
pub AS (SELECT *, CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS published FROM b),
st AS (
  SELECT CAST(sum(published) - 1 AS INT) AS latest_version,
         max(CASE WHEN published = 1 THEN ord END) AS last_ord
  FROM pub
)
SELECT pub.batch, pub.published, CAST(pub.n_violations AS BIGINT) AS n_violations,
       (SELECT CAST(batch_rows AS BIGINT) FROM pub p2
        WHERE p2.ord = st.last_ord) AS final_rows,
       st.latest_version
FROM pub CROSS JOIN st
"""

QUERIES["snapshot_cdf"] = q_snapshot_cdf
QUERIES["wap_publish"] = q_wap_publish
ORACLE_SQL["snapshot_cdf"] = SQL_SNAPSHOT_CDF
ORACLE_SQL["wap_publish"] = SQL_WAP_PUBLISH
