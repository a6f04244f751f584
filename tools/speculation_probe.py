#!/usr/bin/env python
"""Speculative-execution determinism probe: the nondeterminism-
sensitive qid families must hash-identically when Spark races
duplicate task attempts and keeps whichever finishes first.

Why this axis matters (VERDICT r9 ask #6): at 100 TB task re-execution
is ROUTINE — stragglers get speculative clones, preempted executors
get retries — and Spark's contract is that a task attempt is a pure
function of its input partition. A kernel that double-counts on a
duplicate attempt (side-effecting accumulator, non-idempotent sink
handshake, RNG seeded off attempt context) or a plan whose output
depends on which attempt wins is invisible to every data/geometry/
config sweep, because those all run each task exactly once. This
probe forces the race: ``spark.speculation=true`` with an aggressive
quantile/multiplier (clone a task as soon as 10%% of its stage
finishes and it is 1.01× slower than the median) over the families
where an attempt race could plausibly leak:

  - Arrow mapInPandas kernels (ewma_smooth, media_*) — per-partition
    Python state
  - Python DataSource feeds/sinks (pysource_changefeed, pysink_audit,
    source_divergence, replication_audit's cdc_feed) — partition
    readers must be replayable, the 2-phase-commit sink must discard
    the losing attempt
  - localCheckpoint-pinned dedup (minhash_dedup, fuzzy_dedup,
    semantic_dedup) — checkpoint pins an RDD computed by winning
    attempts
  - the three composition qids — stage persists materialized under
    attempt races
  - pandas-UDF aggregation/window paths (scalar_pandas_udf,
    grouped_rank_pandas, pandas_grouped_agg, kmeans_assign, python_udtf)
  - the replication pipeline (``pipeline_replicate``): one changed
    parquet-path table through ``CdcPipeline.replicate_table`` on its
    footer-bounded path, whose merge counts, delta row count and next
    watermark are observed metrics — accumulator-backed, so a killed
    attempt that double-counted would show here

Protocol: two fresh-JVM cells (base, spec) hash every target qid with
the driver-faithful canonicalization (tests/duck_compare._rowset).
The spec cell races attempts TWO ways:

  1. ``spark.speculation=true`` with quantile=0.1 / multiplier=1.01 —
     the scheduler-side marking machinery runs on every stage. On one
     machine a marked clone can never LAUNCH, though: TaskSetManager's
     dequeueSpeculativeTask refuses any host that already has an
     attempt of the task, and every local/local-cluster executor
     shares the one host (verified empirically: a 16-task stage with
     5× stragglers under these settings launches 0 clones in both
     local[8] and local-cluster[2,4,2048]).
  2. So the REAL race is injected directly: a driver-side killer
     thread polls the AppStatusStore and calls
     ``sc.killTaskAttempt(interruptThread=True)`` on one RUNNING task
     per stage attempt. A killed attempt does not count toward
     spark.task.maxFailures; the scheduler re-enqueues the partition,
     and the retry must rebuild it from scratch — partial Arrow
     batches, partially-written sink files, and partially-folded
     per-partition state from the killed attempt MUST be discarded.
     That is exactly the re-execution contract a preempted 100 TB
     executor exercises.

The cell records how many kills landed (per qid) as evidence the race
actually happened — a green run with zero kills would be vacuous.
Short-stage qids can complete before a kill lands; the summary keeps
them honest by reporting kill counts alongside the hash verdicts.

Usage:
    python tools/speculation_probe.py                 # both cells
    python tools/speculation_probe.py --qids a,b      # subset
    python tools/speculation_probe.py --cell spec --out /tmp/h.json

Exit code: number of divergent/errored qids.
Record: docs/SPECULATION_PROBE.json.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

DEFAULT_SF = "/root/testdata/sf0.01"

PIPELINE_CASE = "pipeline_replicate"

TARGETS = [
    # Arrow mapInPandas kernels
    "ewma_smooth",
    "media_decode_bmp",
    "media_decode_png",
    "media_decode_wav",
    "media_decode_mp4",
    "media_features",
    "media_frames",
    "media_resize",
    # Python DataSource feeds + 2-phase-commit sink
    "pysource_changefeed",
    "pysink_audit",
    "source_divergence",
    # localCheckpoint-pinned / multi-stage dedup
    "minhash_dedup",
    "minhash_incremental",
    "fuzzy_dedup",
    "semantic_dedup",
    "dedup_components",
    # composition qids (stage persists under attempt races)
    "curation_release",
    "replication_audit",
    "retrieval_release",
    # pandas-UDF / UDTF paths
    "scalar_pandas_udf",
    "grouped_rank_pandas",
    "pandas_grouped_agg",
    "python_udtf",
    "kmeans_assign",
    # replication pipeline: observed merge counts + watermark
    PIPELINE_CASE,
]

CELLS: dict[str, dict[str, str]] = {
    "base": {},
    "spec": {
        "spark.speculation": "true",
        "spark.speculation.interval": "50ms",
        "spark.speculation.quantile": "0.1",
        "spark.speculation.multiplier": "1.01",
        # floor below which tasks are never speculated; drop it so even
        # this fixture's fast tasks race
        "spark.speculation.minTaskRuntime": "0ms",
    },
}


class _AttemptKiller:
    """Driver-side thread that injects attempt races: one
    ``killTaskAttempt(interruptThread=True)`` per ACTIVE stage attempt,
    found by polling the AppStatusStore. Killed attempts are
    re-enqueued by the scheduler (they do not count toward
    spark.task.maxFailures), so every landed kill is a partition
    provably computed twice with the first attempt's partial output
    discarded."""

    def __init__(self, spark) -> None:
        import threading

        self._sc = spark.sparkContext
        self._gw = self._sc._gateway
        self._store = self._sc._jsc.sc().statusStore()
        self._seen: set = set()
        self._stop = threading.Event()
        self.kills = 0
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _empty(self):
        return self._gw.jvm.java.util.ArrayList()

    def _loop(self) -> None:
        while not self._stop.is_set():
            try:
                it = self._store.stageList(
                    self._empty(), False, False,
                    self._gw.new_array(self._gw.jvm.double, 0), self._empty()
                ).iterator()
                while it.hasNext():
                    st = it.next()
                    key = (st.stageId(), st.attemptId())
                    if str(st.status()) != "ACTIVE" or key in self._seen:
                        continue
                    tl = self._store.taskList(*key, 100).iterator()
                    while tl.hasNext():
                        t = tl.next()
                        if str(t.status()) == "RUNNING" and self._sc._jsc.sc(
                        ).killTaskAttempt(
                            t.taskId(), True, "o2o attempt-race probe"
                        ):
                            self.kills += 1
                            self._seen.add(key)
                            break
            except Exception:
                pass  # status race with a finishing stage — retry next poll
            self._stop.wait(0.05)

    def take(self) -> int:
        """Kills landed since the last call (per-qid attribution)."""
        n, self.kills = self.kills, 0
        return n

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=2)


def _pipeline_case(spark, sf_dir: str):
    """First load of the CDC orders as they stood at ``T0``, then one
    incremental ``replicate_table`` over their current state (updates,
    inserts, soft-deletes, gated soft-deletes). The source is a parquet
    directory with UTC-adjusted microsecond CDC columns, so the cycle
    takes the footer-bounded path: its merge write is its only query.
    One row: the cycle's ``TableResult`` counts, the watermark it
    committed and a digest of the target's row set."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from oracle_to_oracle_data_integration_pipeline_spark.catalog import Catalog
    from oracle_to_oracle_data_integration_pipeline_spark.operators.watermark import WatermarkStore
    from oracle_to_oracle_data_integration_pipeline_spark.plans.pipeline import (
        CdcPipeline,
        ParquetTargetStore,
    )
    from oracle_to_oracle_data_integration_pipeline_spark.queries.cdc_queries import (
        _target_delta,
        cdc_orders,
    )
    from tests.duck_compare import _rowset

    def publish(df):
        out = df.withColumn("created_at", F.col("created_at").cast("timestamp")) \
                .withColumn("updated_at", F.col("updated_at").cast("timestamp"))
        prior = spark.conf.get("spark.sql.parquet.outputTimestampType")
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        try:
            out.write.mode("overwrite").parquet(f"{work}/src/orders")
        finally:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prior)

    work = tempfile.mkdtemp(prefix="o2o_spec_pipeline_")
    try:
        publish(_target_delta(spark, sf_dir)[0])
        cat = Catalog.from_parquet_dir(spark, f"{work}/src", pks={"orders": ["o_orderkey"]}, fk_edges=[])
        pipe = CdcPipeline(spark, cat, ParquetTargetStore(spark, f"{work}/target"),
                           WatermarkStore(spark, f"{work}/wm"), max_parallel_tables=1)
        first = pipe.replicate_table("orders")
        publish(cdc_orders(spark, sf_dir))
        res = pipe.replicate_table("orders")
        tgt = pipe.target.read("orders")
        canon = _rowset([c.lower() for c in tgt.columns], [tuple(r) for r in tgt.collect()])
        digest = hashlib.sha256(repr(canon).encode()).hexdigest()[:16]
        row = (first.status, res.status, res.inserted, res.updated, res.dropped_deletes,
               str(pipe.watermarks.get("orders")), digest)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    cols = ["first_status", "status", "inserted", "updated", "dropped_deletes", "watermark",
            "target_digest"]
    return cols, [row]


def run_cell(tag: str, sf_dir: str, qids: list[str] | None, out: str) -> None:
    from oracle_to_oracle_data_integration_pipeline_spark import queries as q
    from oracle_to_oracle_data_integration_pipeline_spark.session import get_spark
    from tests.duck_compare import _rowset

    conf = dict(CELLS[tag])
    conf["spark.ui.showConsoleProgress"] = "false"
    spark = get_spark(app_name=f"o2o_speculation_{tag}", extra_conf=conf)
    registry = q.all_queries()
    targets = [t for t in (qids or TARGETS) if t in registry or t == PIPELINE_CASE]
    killer = _AttemptKiller(spark) if tag == "spec" else None
    hashes: dict[str, str] = {}
    kills: dict[str, int] = {}
    for qid in targets:
        t0 = time.time()
        try:
            if qid == PIPELINE_CASE:
                cols, rows = _pipeline_case(spark, sf_dir)
                print(f"{tag} {qid} {dict(zip(cols, rows[0]))}", flush=True)
            else:
                df = registry[qid](spark, sf_dir)
                cols = [c.lower() for c in df.columns]
                rows = [tuple(r) for r in df.collect()]
            canon = _rowset(cols, rows)
            hashes[qid] = hashlib.sha256(
                (repr(sorted(cols)) + "\n" + repr(canon)).encode()
            ).hexdigest()[:16]
        except Exception as e:
            hashes[qid] = f"ERROR:{type(e).__name__}:{str(e).splitlines()[0][:120]}"
        if killer is not None:
            kills[qid] = killer.take()
        print(f"{tag} {qid} {hashes[qid]} {time.time() - t0:.1f}s"
              + (f" kills={kills[qid]}" if killer else ""), flush=True)
    if killer is not None:
        killer.stop()
        # evidence the race actually happened: a green cell with zero
        # landed kills would be vacuous
        hashes["__kills__"] = json.dumps(kills, sort_keys=True)
        hashes["__speculative_tasks__"] = str(_speculative_task_count(spark))
    with open(out, "w") as f:
        json.dump(hashes, f, indent=1, sort_keys=True)


def _speculative_task_count(spark) -> int:
    """Total SPECULATIVE task attempts this app launched, summed over
    stages from the AppStatusStore's speculationSummary. Expected 0 on
    one host (clones never pass the different-host constraint) — kept
    as the honest record that marking-without-launching is the most
    spark.speculation itself can do locally."""
    try:
        sc = spark.sparkContext
        gw = sc._gateway
        store = sc._jsc.sc().statusStore()
        empty = gw.jvm.java.util.ArrayList()
        total = 0
        it = store.stageList(
            empty, False, True, gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.ArrayList()
        ).iterator()
        while it.hasNext():
            summ = it.next().speculationSummary()
            if summ.isDefined():
                total += int(summ.get().numTasks())
        return total
    except Exception:
        return -1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=DEFAULT_SF)
    ap.add_argument("--qids", default=None)
    ap.add_argument("--cell", default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("--record", default=os.path.join(REPO, "docs", "SPECULATION_PROBE.json"))
    args = ap.parse_args()
    qids = [s for s in (args.qids or "").split(",") if s.strip()] or None

    if args.cell:
        run_cell(args.cell, args.sf, qids, args.out or f"/tmp/spec_{args.cell}.json")
        return 0

    cell_hashes: dict[str, dict[str, str]] = {}
    for tag in CELLS:
        out = f"/tmp/spec_{tag}.json"
        t0 = time.time()
        cmd = [sys.executable, os.path.abspath(__file__), "--cell", tag,
               "--sf", args.sf, "--out", out]
        if args.qids:
            cmd += ["--qids", args.qids]
        r = subprocess.run(cmd, capture_output=True, text=True)
        if r.returncode != 0 or not os.path.exists(out):
            print(f"== {tag}: cell FAILED rc={r.returncode}", flush=True)
            for ln in (r.stdout + r.stderr).splitlines()[-10:]:
                print("   ", ln[:160])
            cell_hashes[tag] = {}
            continue
        with open(out) as f:
            cell_hashes[tag] = json.load(f)
        print(f"== {tag}: {len(cell_hashes[tag])} entries "
              f"(kills={cell_hashes[tag].get('__kills__', 'n/a')[:60]}, "
              f"{time.time() - t0:.0f}s)", flush=True)

    meta = {
        tag: {
            "speculative_tasks": h.pop("__speculative_tasks__", None),
            "kills": json.loads(h.pop("__kills__", "null") or "null"),
        }
        for tag, h in cell_hashes.items()
    }
    total_kills = sum((meta.get("spec", {}).get("kills") or {}).values())
    all_qids = sorted({q for h in cell_hashes.values() for q in h})
    finds: dict[str, dict[str, str]] = {}
    for qid in all_qids:
        per = {tag: h.get(qid, "MISSING") for tag, h in cell_hashes.items()}
        if len(set(per.values())) != 1 or any(
            v.startswith(("ERROR", "MISSING")) for v in per.values()
        ):
            finds[qid] = per
    record = {
        "sf": args.sf,
        "cells": CELLS,
        "race_evidence": meta,
        "total_kills": total_kills,
        "n_qids": len(all_qids),
        "n_invariant": len(all_qids) - len(finds),
        "finds": finds,
    }
    with open(args.record, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    vacuous = total_kills == 0 and not finds
    print(
        f"speculation probe: {record['n_invariant']}/{len(all_qids)} "
        f"hash-invariant under attempt races ({total_kills} kills landed"
        f", speculative clones: "
        f"{meta.get('spec', {}).get('speculative_tasks')})"
        + (f"; DIVERGENT: {sorted(finds)}" if finds else "")
        + ("; VACUOUS: zero kills landed" if vacuous else "")
    )
    return len(finds) + (1 if vacuous else 0)


if __name__ == "__main__":
    sys.exit(main())
