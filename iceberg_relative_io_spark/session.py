"""SparkSession factory and runtime conf management.

Local testing runs on ``local[N]`` but every conf here is chosen for the
real target — a many-executor cluster reading ~100 TB:

- AQE on (runtime re-planning, partition coalescing, skew-join splitting).
- Arrow enabled for the few Pandas-UDF code paths.
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  are stable across cluster nodes in different zones.
- ``nanosAsLong`` because the events fixture carries parquet
  TIMESTAMP(NANOS), which Spark's vectorized reader otherwise rejects;
  loaders convert the raw nanos to TimestampType (µs) on load.
- File listing sized to the cores, not the file count. A scan of more
  than ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
  paths lists them in a Spark job of min(paths, ``...parallelism``)
  tasks, and every task deserializes the whole Hadoop configuration.
  At the stock parallelism of 10000 that is one task per file (an
  88-file mirror read lists in 88 tasks); while it is still stock,
  ``ensure_runtime_confs`` sets it to the core count, as Spark's docs
  advise ("to prevent file listing from generating too many tasks").
  Listing stays distributed; a value someone set is left alone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that must hold for correctness (not just speed). They are all
# runtime-settable, so `ensure_runtime_confs` can repair a session we did
# not create (e.g. the driver's).
_RUNTIME_CONFS = {
    # events.parquet stores TIMESTAMP(NANOS); read as long, convert in loader
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # oracle parity: DuckDB timestamps are UTC-naive
    "spark.sql.session.timeZone": "UTC",
    # runtime re-planning: partition coalescing + skew handling at scale
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDF / toPandas paths
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # prefer shuffled-hash over sort-merge when the per-partition build
    # side fits (optimization guide §3.1/§9): skips the two sorts. The
    # round-11 A/B on a 22-query subset measured 30.2s vs 31.4s, with
    # the join-heavy c02/c06 names improving consistently; at scale the
    # OOM risk is bounded by the planner's own size conditions and AQE
    # skew-splitting still applies (runtime-settable, so the driver's
    # vanilla session gets it through ensure_runtime_confs too).
    "spark.sql.join.preferSortMergeJoin": "false",
    # let the Python DataSource receive Catalyst filters for file skipping
    "spark.sql.python.filterPushdown.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply correctness-critical runtime confs to a session.

    Called by every loader/query builder so the engine behaves the same
    whether running under our own session or one handed to us. If the
    session still has the stock 200 shuffle partitions (nobody tuned it),
    right-size to the local core count — AQE coalesces most exchanges
    anyway, but streaming state-store partitioning is fixed at plan time
    and 200 state partitions on a laptop-scale box is pure overhead. The
    same rule sizes file listing (see the module docstring).
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # non-settable in this deployment: leave as-is
            pass
    try:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    except ValueError:
        return spark
    for k, stock, v in (
        ("spark.sql.shuffle.partitions", "200", max(8, cores)),
        ("spark.sql.sources.parallelPartitionDiscovery.parallelism", "10000", cores),
    ):
        try:
            if spark.conf.get(k, stock) == stock:
                spark.conf.set(k, str(v))
        except Exception:
            pass
    return spark


def get_spark(
    app_name: str = "iceberg-relative-io-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so the same entry point works in tests, bench, and on a
    cluster where the master comes from spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_runtime_confs(spark)
