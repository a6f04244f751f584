"""SparkSession factory tuned for the engine.

The reference builds a bare ``local[*]`` session with only JDBC jars
configured (`/root/reference/scripts/03_cdc_etl.py:42-54`). Here the
session is tuned for analytic work at scale:

- AQE on (runtime join-strategy switch, partition coalescing, skew-join
  splitting) — on a 1000-executor cluster this is what turns a planned
  sort-merge join into a broadcast join when the delta side turns out
  small, and what splits a skewed shuffle partition;
- shuffle partitions sized to the local core count (the 200 default is
  wrong in both directions; on a real cluster this would be set to
  ~2-3x total cores, and AQE coalescing trims the rest);
- session timezone pinned to UTC so timestamp semantics are stable and
  comparable against the DuckDB oracle;
- Arrow enabled for the Pandas-UDF slow path (vectorized batches instead
  of row-at-a-time pickling);
- the package's parent directory on the Python workers' ``PYTHONPATH``,
  so UDFs and ``mapInPandas`` kernels import the package whatever the
  driver's working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "o2o_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession configured for the engine.

    In local mode there is one JVM; ``spark.driver.memory`` is the only
    memory knob. On a cluster, the same configs apply per executor and the
    master URL comes from the environment instead.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        # fixture events.ts is parquet TIMESTAMP(NANOS); read as long
        # (converted to µs timestamps by the loaders that need it)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    conf = dict(extra_conf or {})
    # workers otherwise import the package only from their working
    # directory, which is the driver's
    worker_path = conf.get("spark.executorEnv.PYTHONPATH")
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(filter(None, [_PACKAGE_PARENT, worker_path]))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
