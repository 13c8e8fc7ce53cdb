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

Importing this module also makes zip-import cache invalidation check the
archive before re-reading it (Python < 3.12 only; 3.12 on does nothing
here). Every Python-worker invocation, UDF, ``mapInArrow`` and
DataSource task, and the data-source planner calls alike, runs
``importlib.invalidate_caches()``. On 3.11 that makes every
``zipimporter`` re-read its whole archive directory: with
``pyspark.zip`` (~1.3k entries) and the spark-core jar (~5.4k entries)
on a worker's ``sys.path``, 16 importers cost ~240 ms of CPU per task,
and a trivial ``relative`` DSv2 write ~1.4 s. The patch re-reads an
archive only when its ``(st_mtime_ns, st_ctime_ns, st_size, st_ino)``
changed since the last read, so a rewritten archive is still re-read
and imports see what stock invalidation would show them. It is safe
because the stat key is taken before the read it guards: a rewrite
that races the read leaves a stale key, which forces one more re-read.
A worker gets the patch when it unpickles engine code (the DSv2 reader
and writer classes are pickled by reference, so the planner workers
import the package too) and keeps it from its next task on, which needs
``spark.python.worker.reuse`` (Spark's default). A closure pickled by
value that never imports the package runs in an unpatched worker. The
effect shows in ``perfbench/run.py --trace 1`` as
``proc.pyworker_cpu_ms_per_op`` on ``lake_ingest``.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def _stat_check_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed (module docstring)."""
    if sys.version_info >= (3, 12):
        return  # invalidation there only drops a cache entry
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches
    if stock.__module__ == __name__:
        return
    read_as: dict[str, tuple] = {}  # archive -> its stat key when last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_ctime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_as.get(self.archive) == key:
            self._files = files
            return
        stock(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            read_as[self.archive] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_stat_check_zip_invalidation()

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
