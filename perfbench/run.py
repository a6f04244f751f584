#!/usr/bin/env python3
"""spark-graft benchmark: warm incremental CDC cycles and the analytics
headline, with an optional outside-in layer trace.

Run from the repository root:

    python3 perfbench/run.py --workload replicate_incremental --seed 1 --seconds 15 --trace 0

Prints a human-readable report, then, as the last line of stdout, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _driver_mem() -> str:
    """A quarter of RAM, at most 4 GiB: the engine's 24g default does
    not fit small hosts."""
    with open("/proc/meminfo") as f:
        total_kib = int(f.readline().split()[1])
    return f"{min(4096, total_kib // 4096)}m"


def _noise_controls(work: str) -> None:
    """Environment the engine reads at import and session start. Every
    file the run writes goes under ``work``."""
    for sub in ("tmp", "local", "scratch"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "TZ": "UTC",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": _driver_mem(),
        "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    time.tzset()


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _loadavg() -> str:
    return " ".join(f"{x:.2f}" for x in os.getloadavg())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    _noise_controls(work)
    try:
        return _bench(ap, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bench(ap, args, work: str) -> int:
    sys.path.insert(0, ROOT)
    import tracer as tracing
    import workloads
    from oracle_to_oracle_data_integration_pipeline_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")

    steal0, load0 = tracing.host_steal_s(), _loadavg()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in the system /tmp: a run writes only
            # inside its checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        },
    )
    get_spark_s = time.perf_counter() - t0
    try:
        ctx = workloads.Context(spark, work, args.seed, args.seconds,
                                tracing.Tracer(spark) if args.trace else None)
        run = workloads.WORKLOADS[args.workload](ctx)
    finally:
        _stop(spark)

    setup_s = run.setup_end - PROCESS_START
    p50 = statistics.median(run.ops_s)
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    print(f"  setup_s          {setup_s:10.3f} s")
    print(f"  op_s.p50         {p50:10.3f} s   (n={len(run.ops_s)} untraced ops)")
    print(f"  query_s.geomean  {run.query_geomean():10.3f} s   ({len(run.queries_s)} queries)")
    print(f"  fail_ratio       {run.failed_ops / run.attempted:10.3f}     ({run.failed_ops}/{run.attempted} ops)")
    phases = ", ".join(f"{k} {v:.2f}" for k, v in {"get_spark": get_spark_s, **run.phases}.items())
    print(f"  setup phases     {phases} s")
    print(f"  op samples       {' '.join(f'{x:.3f}' for x in run.ops_s)}")
    if len(run.queries_s) > 1:
        for qid, ts in run.queries_s.items():
            print(f"  query {qid:26s} {statistics.median(ts):8.3f} s   (n={len(ts)})")
    print(f"  host             loadavg {load0} -> {_loadavg()}, steal {tracing.host_steal_s() - steal0:.2f} s")
    for f in run.failures[:20]:
        print(f"  FAILED {f}")

    if args.trace:
        layers = {k: statistics.median(d[k] for d in run.layers) for k in run.layers[0]}
        layers["session.get_spark_s"] = get_spark_s
        layers["trace.overhead_s"] = statistics.median(run.traced_ops_s) - p50
        metrics = {k: {"value": layers.get(k, 0), "unit": _unit(k)} for k in workloads.PER_LAYER}
        print(f"  traced ops       {len(run.traced_ops_s)}, overhead {layers['trace.overhead_s']:.3f} s, "
              f"spark.jobs per op {[d['spark.jobs'] for d in run.layers]}")
        if run.job_groups:
            print(f"  jobs by group    {run.job_groups}")
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_s.p50": {"value": p50, "unit": "s"},
            "query_s.geomean": {"value": run.query_geomean(), "unit": "s"},
        }
    print(json.dumps({"correct": not run.failures, "attempted": run.attempted,
                      "failed": run.failed_ops, "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
