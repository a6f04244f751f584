"""Outside-in layer trace for the benchmark.

``Tracer.install`` wraps the public functions of each layer where the
pipeline looks them up, records a span per call and restores the
originals on ``uninstall``. Nothing in the program changes; untraced
runs never install the wrappers.

- Spans are thread-aware: the pipeline replicates the tables of one FK
  wave on pool threads, so each thread keeps its own span stack, and a
  span's self time is its duration minus that of its direct children
  on the same thread.
- ``replicate_table`` tags the Spark jobs of each table with a job
  group, so jobs attribute to tables even when waves overlap.
- Spark counts come from the driver's status store, read by job-id
  range after the listener bus has drained.
- Process and host counters come from ``/proc`` and the JVM's GC beans.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from collections import defaultdict

from oracle_to_oracle_data_integration_pipeline_spark.catalog import Catalog
from oracle_to_oracle_data_integration_pipeline_spark.operators import cdc
from oracle_to_oracle_data_integration_pipeline_spark.operators.watermark import WatermarkStore
from oracle_to_oracle_data_integration_pipeline_spark.plans import pipeline
from oracle_to_oracle_data_integration_pipeline_spark.sources import locking

_TICK = os.sysconf("SC_CLK_TCK")

# span name -> per-layer metric that sums its self time
SPAN_METRICS = {
    "catalog.discover": "catalog.discover_s",
    "pipeline.replicate_table": "pipeline.replicate_table_s",
    "pipeline.overwrite": "pipeline.overwrite_s",
    "cdc.merge_stats": "cdc.merge_stats_s",
    "cdc.plan_build": "cdc.plan_build_s",
    "watermark.get": "watermark.get_s",
    "watermark.upsert": "watermark.upsert_s",
    "locking.wait": "locking.wait_s",
}


def host_steal_s() -> float:
    """Steal time of all CPUs since boot (``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def proc_tree_cpu_s(root_pid: int | None = None) -> float:
    """User+system CPU of a process and all its descendants, including
    the reaped children each one has waited for."""
    root_pid = root_pid or os.getpid()
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15]) / _TICK
    total = 0.0
    for pid in cpu:
        p = pid
        while p and p != root_pid:
            p = parent.get(p)
        if p == root_pid:
            total += cpu[pid]
    return total


class SparkStatus:
    """Job, stage and task counts by job-id range from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.next_job = 0
        self.gc_beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def gc_s(self) -> float:
        return sum(self.gc_beans.get(i).getCollectionTime() for i in range(self.gc_beans.size())) / 1000.0

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def skip_to_now(self) -> None:
        """Move the cursor past every job run so far. The newest job the
        store retains is the head of its job list (newest first)."""
        self.drain()
        jobs = self.store.jobsList(None)
        if jobs.size():
            self.next_job = max(self.next_job, jobs.apply(0).jobId() + 1)

    def collect(self) -> list[dict]:
        """Jobs started since the last call, with their stage totals.
        Job ids are dense, so the range ends at the first id the store
        does not know. Call after ``drain``."""
        jobs = []
        while True:
            try:
                j = self.store.job(self.next_job)
            except Exception:  # py4j error wrapping NoSuchElementException
                break
            self.next_job += 1
            rec = {"id": j.jobId(), "group": None, "stages": 0, "tasks": 0,
                   "shuffle_write": 0, "spill": 0, "output": 0}
            grp = j.jobGroup()
            rec["group"] = grp.get() if grp.isDefined() else None
            sub, end = j.submissionTime(), j.completionTime()
            rec["start"] = sub.get().getTime() / 1000.0 if sub.isDefined() else None
            rec["end"] = end.get().getTime() / 1000.0 if end.isDefined() else None
            ids = j.stageIds()
            for i in range(ids.size()):
                try:
                    s = self.store.lastStageAttempt(ids.apply(i))
                except Exception:  # a skipped stage never ran
                    continue
                if str(s.status()) == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += s.numCompleteTasks()
                rec["shuffle_write"] += s.shuffleWriteBytes()
                rec["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                rec["output"] += s.outputBytes()
            jobs.append(rec)
        return jobs


def union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_metrics(jobs: list[dict], wall_s: float) -> dict[str, float]:
    """Per-op Spark counts for the jobs of one op that took ``wall_s``."""
    busy = union_s([(j["start"], j["end"]) for j in jobs if j["start"] is not None and j["end"] is not None])
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.job_s": sum(j["end"] - j["start"] for j in jobs if j["start"] is not None and j["end"] is not None),
        "spark.driver_gap_s": wall_s - busy,
        "spark.shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs),
        "spark.spill_bytes": sum(j["spill"] for j in jobs),
        "spark.output_bytes": sum(j["output"] for j in jobs),
    }


class Tracer:
    """Wraps the layers' public functions while installed."""

    def __init__(self, spark):
        self.spark = spark
        self.status = SparkStatus(spark)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self.reset()

    # -- spans -----------------------------------------------------

    def reset(self) -> None:
        self.self_s: dict[str, float] = defaultdict(float)
        self.counts: dict[str, int] = defaultdict(int)

    @contextlib.contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        frame = [0.0]  # time covered by direct children
        stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            stack.pop()
            if stack:
                stack[-1][0] += dur
            with self._lock:
                self.self_s[name] += dur - frame[0]
                self.counts[name] += 1

    def op_metrics(self) -> dict[str, float]:
        out = {m: self.self_s.get(name, 0.0) for name, m in SPAN_METRICS.items()}
        out["catalog.load_calls"] = self.counts.get("catalog.load", 0)
        out["watermark.calls"] = self.counts.get("watermark.get", 0) + self.counts.get("watermark.upsert", 0)
        out["pipeline.tables_replicated"] = self.counts.get("status.replicated", 0)
        out["pipeline.tables_empty"] = self.counts.get("status.empty_delta", 0)
        return out

    # -- wrappers --------------------------------------------------

    def _patch(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def _timed(self, name: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        tracer = self
        sc = self.spark.sparkContext

        from_dir = Catalog.__dict__["from_parquet_dir"].__func__
        self._patch(Catalog, "from_parquet_dir", classmethod(self._timed("catalog.discover", from_dir)))
        self._patch(Catalog, "load", self._timed("catalog.load", Catalog.load))
        self._patch(pipeline.ParquetTargetStore, "overwrite",
                    self._timed("pipeline.overwrite", pipeline.ParquetTargetStore.overwrite))
        self._patch(cdc.MergeResult, "stats", self._timed("cdc.merge_stats", cdc.MergeResult.stats))
        self._patch(WatermarkStore, "get", self._timed("watermark.get", WatermarkStore.get))
        self._patch(WatermarkStore, "upsert", self._timed("watermark.upsert", WatermarkStore.upsert))
        # plans.pipeline imports these by name, so wrap them there
        for fn in ("merge_soft_delete", "latest_per_key", "delta_predicate"):
            self._patch(pipeline, fn, self._timed("cdc.plan_build", getattr(pipeline, fn)))

        replicate = pipeline.CdcPipeline.replicate_table

        def replicate_table(pipe, table):
            sc.setLocalProperty("spark.jobGroup.id", f"table:{table}")
            try:
                with tracer.span("pipeline.replicate_table"):
                    res = replicate(pipe, table)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            with tracer._lock:
                tracer.counts[f"status.{res.status}"] += 1
            return res

        self._patch(pipeline.CdcPipeline, "replicate_table", replicate_table)

        # imported inside each call, so the module attribute is the lookup
        acquire = locking.table_write_lock

        @contextlib.contextmanager
        def table_write_lock(path):
            stack = getattr(tracer._local, "stack", None) or []
            t0 = time.perf_counter()
            with acquire(path):
                wait = time.perf_counter() - t0
                with tracer._lock:
                    tracer.self_s["locking.wait"] += wait
                    tracer.counts["locking.wait"] += 1
                if stack:
                    stack[-1][0] += wait
                yield

        self._patch(locking, "table_write_lock", table_write_lock)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)
