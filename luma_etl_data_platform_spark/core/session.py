"""SparkSession factory tuned for both local testing and cluster scale.

The knobs below are chosen so the same code runs correctly on
``local[N]`` (the test harness) and would hold on a 1000-executor
cluster against ~100 TB:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  join-strategy demotion) so plans self-correct at scale.
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster AQE's coalescing makes the initial number mostly a
  ceiling, so we set a high-but-bounded default there via config.
- Session timezone pinned to UTC: parquet timestamps compare bit-equal
  against the DuckDB oracle and against any other engine.
- Arrow enabled for every pandas interchange (Pandas UDFs,
  ``toPandas``) — the only sanctioned Python<->JVM data path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Let Catalyst offer filters to Python DataSources (the REST-lake
    # source translates eq/range predicates into the lake-API filter
    # grammar and still has Spark re-apply them — see
    # sources/rest_lake.RestLakeReader.pushFilters).
    "spark.sql.python.filterPushdown.enabled": "true",
    # Arrow batch size for pandas UDFs: large enough to amortize
    # serialization, small enough to bound executor memory per batch.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    # Some upstream parquet (the events table) carries TIMESTAMP(NANOS)
    # which vanilla Spark rejects; read as long and convert at the
    # source layer (sources/tables.py truncates to micros like DuckDB).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _local_cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def get_spark(app_name: str = "luma_etl_data_platform_spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS|*]``; pass an
    explicit cluster master in production. ``extra_conf`` overrides any
    default.
    """
    cores = _local_cores()
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{cores}]"
    builder = builder.master(master)
    conf = dict(_DEFAULTS)
    conf.setdefault("spark.sql.shuffle.partitions", str(cores))
    # local mode runs every executor thread inside the driver JVM, so
    # this heap is shared by all `cores` concurrent tasks — 16g keeps
    # ~512MB/task at local[32], which 10x-scale validation runs need
    # (8g survived single heavy queries but OOM'd back-to-back
    # persisted-index dedup jobs in one session).
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def thread_target(spark: SparkSession, fn):
    """``fn`` wrapped to run in a worker thread with the caller's
    local properties (job group, description, scheduler pool) and
    session tags, so cancellation and job labels reach the jobs it
    starts. ``inheritable_thread_target(spark)`` returns the session
    itself when pinned thread mode is off (``PYSPARK_PIN_THREAD=false``),
    where Python threads have no JVM thread of their own to carry
    state into: ``fn`` then runs unwrapped."""
    from pyspark import inheritable_thread_target
    wrap = inheritable_thread_target(spark)
    return fn if wrap is spark else wrap(fn)
