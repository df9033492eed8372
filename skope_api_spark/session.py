"""SparkSession factory.

Local test runs use ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this
process may run on) in a single JVM; the configuration below is
nevertheless written for the real design point — a multi-executor
cluster scanning ~100 TB:

- AQE on (runtime coalescing, skew-join splitting) so static
  ``shuffle.partitions`` only needs to be an upper bound.
- Arrow on for every pandas-UDF boundary (the slow-path operators:
  similarity search, multimodal decode).
- ``spark.sql.files.maxPartitionBytes`` left at 128 MB: at 100 TB that is
  ~800k input splits, which schedules fine on 1000 executors and keeps
  per-task memory bounded.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """Local-mode JVM heap (driver == all executors in local[N]).

    Spark's 1g default is an artifact of cluster mode, where the driver
    only coordinates; in local mode the single JVM also holds every
    executor thread's shuffle/broadcast/state memory, so at sf1 (~6M-row
    lineitem) 1g OOMs on the first ~100 MB broadcast build. 8g is the
    local equivalent of a normally-sized executor; override with
    SPARK_GRAFT_DRIVER_MEM."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")


def get_spark(
    app_name: str = "skope_api_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    # SPARK_GRAFT_MASTER lets any entry point (checker, bench, tests) run
    # against a different master without code changes — the sandbox's
    # multi-JVM evidence mode is `local-cluster[workers,cores,memMB]`,
    # which spawns REAL worker JVMs (cross-process shuffle/broadcast,
    # full serialization) with no cluster manager.
    resolved_master = (
        master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    )
    # Executors in separate JVMs launch their own Python workers, which
    # must import this package by reference (cloudpickle pickles
    # module-level pandas-UDF closures by name). A no-op in local[N]
    # (workers inherit the driver process's sys.path).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(resolved_master)
        .config("spark.executorEnv.PYTHONPATH", repo_root)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # applies only at JVM launch; a no-op if a session already exists
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # an int/date IN list of more than 10 values (an InSet) becomes a
        # hash set the generated code holds by reference, never an inline
        # `switch` over its values: code that holds no value is compiled
        # once per plan shape, not once per request (api/service.py
        # zonal_picks), and a set probe costs one hash per row
        .config("spark.sql.optimizer.inSetSwitchThreshold", "0")
        # events.parquet stores timestamp[ns]; Spark 4 refuses INT64(TIMESTAMP_NANOS)
        # unless read as raw longs — tables.load() converts to a µs timestamp.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    # real-executor masters (local-cluster / standalone) size executor
    # heaps from spark.executor.memory (default 1g), NOT from the
    # driver-mem knob above; sf1-scale multi-JVM runs need more
    exec_mem = os.environ.get("SPARK_GRAFT_EXECUTOR_MEM")
    if exec_mem:
        builder = builder.config("spark.executor.memory", exec_mem)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small DataFrame from driver-side tuples, built from pandas through
    Arrow (``get_spark`` enables it): the JVM decodes the Arrow batch, so
    scanning the frame needs no Python worker, unlike ``createDataFrame``
    on a list of tuples."""
    import pandas as pd

    names = [f.split()[0] for f in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)
