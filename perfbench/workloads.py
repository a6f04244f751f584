"""The benchmark's workloads. Each is a closed loop driven by one client
in the benchmark's own process: the next op starts after the previous
one, and its output checks, have finished.

Each workload function runs its set-up, which ends with one untimed,
checked warm-up op, then timed ops until ``ctx.seconds`` have passed,
and returns a ``Run``. With a tracer, ops alternate untraced and traced, and
the per-layer metrics are medians over the traced ops.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import fixture
import tracer as tracing
from oracle_to_oracle_data_integration_pipeline_spark import queries
from oracle_to_oracle_data_integration_pipeline_spark.catalog import Catalog
from oracle_to_oracle_data_integration_pipeline_spark.operators.watermark import WatermarkStore
from oracle_to_oracle_data_integration_pipeline_spark.plans.pipeline import CdcPipeline, ParquetTargetStore
from tests.duck_compare import compare, duck_connection

# Scale of the replication catalog and of the analytics tables.
REPLICATE_SF = 0.01
ANALYTICS_SF = 0.01

# The analytics op: a pass over these headline qids (bench.py's list).
# dedup_components runs the dedup family's two stages (minhash pairs,
# then connected components; ROADMAP item 5); ts_zscore is the one
# headline query below its baseline. Both load through queries._util.
ANALYTICS_QIDS = [
    "dedup_components",
    "ts_zscore",
]
ANALYTICS_WARMUP_PASSES = 2


# Every per-layer metric a traced run prints, whichever workload it is;
# a layer the workload never enters reads 0.
PER_LAYER = [
    "session.get_spark_s",
    "catalog.discover_s", "catalog.load_calls",
    "pipeline.replicate_table_s", "pipeline.tables_replicated", "pipeline.tables_empty",
    "pipeline.overwrite_s", "pipeline.empty_run_s", "pipeline.empty_run_jobs",
    "cdc.merge_stats_s", "cdc.plan_build_s",
    "watermark.get_s", "watermark.upsert_s", "watermark.calls",
    "locking.wait_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_s", "spark.driver_gap_s",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.output_bytes",
    "jvm.gc_s", "proc.cpu_s", "host.steal_s",
    *[f"query.{q}.{m}" for q in ANALYTICS_QIDS for m in ("s", "jobs")],
    "trace.overhead_s",
]


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: tracing.Tracer | None = None


@dataclass
class Run:
    ops_s: list[float] = field(default_factory=list)
    queries_s: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    failed_ops: int = 0
    layers: list[dict[str, float]] = field(default_factory=list)
    traced_ops_s: list[float] = field(default_factory=list)
    job_groups: dict[str, int] = field(default_factory=dict)  # last traced op
    setup_end: float = 0.0  # perf_counter when the first timed op starts
    phases: dict[str, float] = field(default_factory=dict)  # set-up steps, seconds

    def record(self, problems: list[str], label: str) -> None:
        self.attempted += 1
        self.failures.extend(f"{label}: {p}" for p in problems)
        if problems:
            self.failed_ops += 1

    def query_geomean(self) -> float:
        meds = [statistics.median(v) for v in self.queries_s.values() if v]
        return math.exp(sum(math.log(m) for m in meds) / len(meds))


# Traced runs order their ops untraced, traced, traced, untraced (and
# repeat), so the warm-up drift the JVM still shows between ops falls
# on both sides of the tracing-overhead difference alike.
_TRACED = (False, True, True, False)


def _timed_loop(ctx: Context, run: Run, op) -> None:
    """Runs ``op(traced)`` until the time is up, and at least three
    untraced ops (four ops when traced), so one disturbed op cannot move
    the median.
    ``op`` returns its wall seconds, timed by itself, outside its untimed
    prep and checks."""
    run.setup_end = time.perf_counter()
    deadline = run.setup_end + ctx.seconds
    i = 0
    min_ops = len(_TRACED) if ctx.tracer else 3
    while i < min_ops or time.perf_counter() < deadline:
        traced = ctx.tracer is not None and _TRACED[i % len(_TRACED)]
        wall = op(traced)
        (run.traced_ops_s if traced else run.ops_s).append(wall)
        i += 1


class _OpTrace:
    """Brackets one traced op: wrappers, job cursor, process counters."""

    def __init__(self, tracer: tracing.Tracer):
        self.t = tracer

    def __enter__(self):
        self.t.status.skip_to_now()
        self.t.reset()
        self.gc0, self.cpu0, self.steal0 = self.t.status.gc_s(), tracing.proc_tree_cpu_s(), tracing.host_steal_s()
        self.jobs: list[dict] = []
        self.t.install()
        return self

    def take_jobs(self) -> list[dict]:
        """Jobs finished since the last take, kept for the op totals."""
        self.t.status.drain()
        new = self.t.status.collect()
        self.jobs.extend(new)
        return new

    def __exit__(self, *exc):
        self.t.uninstall()
        self.take_jobs()
        self.gc_s = self.t.status.gc_s() - self.gc0
        self.cpu_s = tracing.proc_tree_cpu_s() - self.cpu0
        self.steal_s = tracing.host_steal_s() - self.steal0
        return False

    def metrics(self, wall: float) -> dict[str, float]:
        m = self.t.op_metrics()
        m.update(tracing.spark_metrics(self.jobs, wall))
        m["jvm.gc_s"], m["proc.cpu_s"], m["host.steal_s"] = self.gc_s, self.cpu_s, self.steal_s
        return m


# -- replication ------------------------------------------------------

def _hash_sql(schema: pa.Schema, rel: str) -> str:
    """Row count and an order-insensitive hash, with every column in a
    type both sides share (ints widened, timestamps as epoch µs)."""
    exprs = []
    for f in schema:
        if pa.types.is_integer(f.type):
            exprs.append(f'CAST("{f.name}" AS BIGINT)')
        elif pa.types.is_timestamp(f.type):
            exprs.append(f'epoch_us("{f.name}")')
        else:
            exprs.append(f'"{f.name}"')
    return f"SELECT count(*), sum(hash({', '.join(exprs)})::HUGEINT) FROM {rel}"


def check_replication(src: fixture.CdcSource, target_root: str, wm_path: str, report,
                      planted: dict[str, fixture.Expected]) -> list[str]:
    """Every problem found in one cycle's outputs; empty when correct."""
    problems = []
    by_table = {r.table: r for r in report.results}
    for name in fixture.STAR_TABLES:
        r = by_table.get(name)
        if r is None or r.status == "failed":
            problems.append(f"{name}: {'missing' if r is None else r.error}")
            continue
        if name in planted:
            e = planted[name]
            got = (r.inserted, r.updated, r.dropped_deletes)
            if r.status != "replicated" or got != (e.inserted, e.updated, e.dropped_deletes):
                problems.append(f"{name}: {r.status} counts {got} != planted {e}")
        elif r.status != "empty_delta":
            problems.append(f"{name}: {r.status}, expected empty_delta")
    con = duckdb.connect()
    con.execute("SET threads=2")
    try:
        for name in planted:
            exp = src.expected_target(name)
            want = con.execute(_hash_sql(exp.schema, "exp")).fetchone()
            files = os.path.join(target_root, name, "*.parquet")
            got = con.execute(_hash_sql(exp.schema, f"read_parquet('{files}')")).fetchone()
            if want != got:
                problems.append(f"{name}: target (rows, hash) {got} != expected {want}")
    finally:
        con.close()
    wm = pq.read_table(wm_path).to_pydict()
    marks = dict(zip(wm["table_name"], wm["last_ts"]))
    for name in fixture.STAR_TABLES:
        want = src.max_change_ts(name)
        if marks.get(name.upper()) != want:
            problems.append(f"{name}: watermark {marks.get(name.upper())} != max change time {want}")
    return problems


def replicate_incremental(ctx: Context) -> Run:
    run = Run()
    t0 = time.perf_counter()
    src = fixture.CdcSource(os.path.join(ctx.work, "source"), ctx.seed, REPLICATE_SF)
    target_root = os.path.join(ctx.work, "target")
    wm_path = os.path.join(ctx.work, "watermarks.parquet")
    target = ParquetTargetStore(ctx.spark, target_root)
    marks = WatermarkStore(ctx.spark, wm_path)

    def cycle():
        cat = Catalog.from_parquet_dir(ctx.spark, src.path)
        return CdcPipeline(ctx.spark, cat, target, marks, max_parallel_tables=4).run()

    run.phases["fixture"] = time.perf_counter() - t0

    # The cold first load, every table through the shuffle merge, is
    # the one untimed warm-up op.
    t0 = time.perf_counter()
    report = cycle()
    run.phases["first_load"] = time.perf_counter() - t0
    run.record(check_replication(src, target_root, wm_path, report, src.first_load_expected()),
               "first load")

    def op(traced: bool) -> float:
        planted = src.plant_batch()
        if not traced:
            t0 = time.perf_counter()
            report = cycle()
            wall = time.perf_counter() - t0
            run.record(check_replication(src, target_root, wm_path, report, planted),
                       f"cycle {src.cycle}")
            return wall
        with _OpTrace(ctx.tracer) as tr:
            t0 = time.perf_counter()
            report = cycle()
            wall = time.perf_counter() - t0
        layers = tr.metrics(wall)
        run.job_groups = dict(Counter(j["group"] or "(none)" for j in tr.jobs))
        problems = check_replication(src, target_root, wm_path, report, planted)
        with _OpTrace(ctx.tracer) as empty:
            t0 = time.perf_counter()
            idle = cycle()
            layers["pipeline.empty_run_s"] = time.perf_counter() - t0
        layers["pipeline.empty_run_jobs"] = len(empty.jobs)
        problems += [f"no-change run: {r.table} {r.status}" for r in idle.results if r.status != "empty_delta"]
        run.layers.append(layers)
        run.record(problems, f"cycle {src.cycle}")
        return wall

    _timed_loop(ctx, run, op)
    run.queries_s = {"run": run.ops_s}
    return run


# -- analytics ----------------------------------------------------------

def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def analytics_headline(ctx: Context) -> Run:
    run = Run()
    data = os.path.join(ctx.work, "analytics")
    t0 = time.perf_counter()
    fixture.write_analytics_dir(data, ctx.seed, ANALYTICS_SF)
    run.phases["fixture"] = time.perf_counter() - t0
    registry, oracle = queries.all_queries(), queries.all_oracle_sql()
    run.queries_s = {q: [] for q in ANALYTICS_QIDS}

    def one_pass(tr: _OpTrace | None) -> tuple[float, list[str], dict[str, float]]:
        errs, per = [], {}
        total = 0.0
        for qid in ANALYTICS_QIDS:
            ctx.spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                _force(registry[qid](ctx.spark, data))
            except Exception as exc:  # a failing qid is a measured failure
                errs.append(f"{qid}: {type(exc).__name__}: {str(exc).splitlines()[0][:200]}")
            dt = time.perf_counter() - t0
            total += dt
            per[qid] = dt
            if tr is not None:
                per[f"{qid}.jobs"] = len(tr.take_jobs())
        return total, errs, per

    # Untimed passes warm the JVM, then one more compares each qid with
    # its DuckDB twin (collect, toPandas). The first timed pass after a
    # single warm-up pass still ran 20-50% slower than the next.
    for i in range(ANALYTICS_WARMUP_PASSES):
        t0 = time.perf_counter()
        _, errs, _ = one_pass(None)
        run.record(errs, f"warm-up pass {i}")
        run.phases[f"warmup_pass_{i}"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    con = duck_connection(data)
    problems = []
    try:
        for qid in ANALYTICS_QIDS:
            ctx.spark.catalog.clearCache()
            try:
                ok, msg = compare(registry[qid](ctx.spark, data), con, oracle[qid])
            except Exception as exc:  # a failing qid is a measured failure
                ok, msg = False, f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            if not ok:
                problems.append(f"{qid}: {msg}")
    finally:
        con.close()
    run.phases["oracle_pass"] = time.perf_counter() - t0
    run.record(problems, "oracle pass")
    checked_ok = not problems

    def op(traced: bool) -> float:
        if traced:
            with _OpTrace(ctx.tracer) as tr:
                wall, errs, per = one_pass(tr)
            layers = tr.metrics(wall)
            for qid in ANALYTICS_QIDS:
                layers[f"query.{qid}.s"] = per[qid]
                layers[f"query.{qid}.jobs"] = per[f"{qid}.jobs"]
            run.layers.append(layers)
        else:
            wall, errs, per = one_pass(None)
            for qid in ANALYTICS_QIDS:
                run.queries_s[qid].append(per[qid])
        if not checked_ok:
            errs.append("outputs failed the oracle pass")
        run.record(errs, f"pass {run.attempted}")
        return wall

    _timed_loop(ctx, run, op)
    return run


WORKLOADS = {
    "replicate_incremental": replicate_incremental,
    "analytics_headline": analytics_headline,
}
