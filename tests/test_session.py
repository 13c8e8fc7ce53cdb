"""Runtime conf management (session.py)."""

from __future__ import annotations

import importlib
import json
import os
import sys
import zipfile
import zipimport

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


def _write_zip(path: str, module: str, body: str) -> None:
    """(Re)write ``path`` as a zip holding one module, replaced
    atomically so the archive's inode and size change."""
    with zipfile.ZipFile(path + ".tmp", "w") as z:
        z.writestr(f"{module}.py", body)
    os.replace(path + ".tmp", path)


def test_zip_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """While an archive on ``sys.path`` is unchanged, invalidating the
    import caches does not re-read its directory (Python < 3.12; later
    versions never re-read there); once it is rewritten, a module it
    newly holds is importable after invalidation, as with stock
    invalidation."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "zmod_one", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zmod_one").X == 1
        importlib.invalidate_caches()  # records the archive's stat key
        reads: list[str] = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        for _ in range(3):
            importlib.invalidate_caches()
        if sys.version_info < (3, 12):
            assert archive not in reads
        _write_zip(archive, "zmod_two", "Y = 22\n")
        importlib.invalidate_caches()
        assert importlib.import_module("zmod_two").Y == 22
    finally:
        for name in ("zmod_one", "zmod_two"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def _worker_zip_state(_):
    """Runs in a Python worker, pickled by value so it imports nothing of
    the engine: whether this worker ran the ``relative`` DSv2 code, who
    owns its ``zipimporter.invalidate_caches``, and how many archive
    directories one more invalidation re-reads."""
    import importlib
    import json
    import os
    import sys
    import zipimport

    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    return json.dumps(
        [
            os.getpid(),
            "iceberg_relative_io_spark.sources.relative_datasource" in sys.modules,
            zipimport.zipimporter.invalidate_caches.__module__,
            len(reads),
        ]
    )


def test_relative_dsv2_worker_checks_archives_before_rereading(spark, tmp_path):
    """The Python worker that ran a ``relative`` DSv2 read imported the
    engine when it unpickled the reader, so (Python < 3.12) its zip
    cache invalidation is the stat-checked one and re-reads no archive
    directory on its next task."""
    from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable
    from iceberg_relative_io_spark.sources.relative_datasource import (
        RelativeDataSource,
    )
    from pyspark import cloudpickle
    from pyspark.sql import functions as F

    spark.dataSource.register(RelativeDataSource)
    wh = str(tmp_path)
    cat = FsCatalog(wh)
    cat.create_namespace(("ns",))
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    cat.create_table(("ns",), "t", df.schema.jsonValue())
    RelativeTable(cat.load_table(("ns",), "t")).append(df)
    got = (
        spark.read.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.t")
        .load()
        .collect()
    )
    assert [tuple(r) for r in got] == [(1, "a")]
    # idle workers are reused first-in first-out: 32 one-row tasks reach
    # every idle worker, the one that ran the read among them
    module = sys.modules[__name__]
    cloudpickle.register_pickle_by_value(module)
    try:
        probe = F.udf(_worker_zip_state, "string")
        states = {
            json.loads(r[0])[0]: json.loads(r[0])[1:]
            for r in spark.range(0, 32, 1, 32).select(probe("id")).collect()
        }
    finally:
        cloudpickle.unregister_pickle_by_value(module)
    ran_reader = [s for s in states.values() if s[0]]
    assert ran_reader, states
    if sys.version_info < (3, 12):
        for _, owner, rereads in ran_reader:
            assert owner == "iceberg_relative_io_spark.session"
            assert rereads == 0
