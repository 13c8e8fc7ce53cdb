"""Runtime conf management (session.py)."""

from __future__ import annotations

from iceberg_relative_io_spark.session import ensure_runtime_confs

_LISTING = "spark.sql.sources.parallelPartitionDiscovery.parallelism"


def test_ensure_runtime_confs_sizes_listing_to_cores(spark, monkeypatch):
    """An untuned listing parallelism (Spark's stock 10000, one listing
    task per path) is set to the core count; a value someone set is
    left alone."""
    before = spark.conf.get(_LISTING)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    try:
        spark.conf.set(_LISTING, "10000")
        ensure_runtime_confs(spark)
        assert spark.conf.get(_LISTING) == "3"
        spark.conf.set(_LISTING, "7")
        ensure_runtime_confs(spark)
        assert spark.conf.get(_LISTING) == "7"
    finally:
        spark.conf.set(_LISTING, before)
