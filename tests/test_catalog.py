"""Catalog/table-format tests (SURVEY.md §5.2-5.3).

These mirror the reference's own testable surface (its three
@VisibleForTesting hooks cover version resolution) plus its README
acceptance flow: write a table, inspect metadata for relative paths, move
the warehouse, read back.
"""

from __future__ import annotations

import json
import shutil

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_relative_io_spark.catalog import (
    CommitFailedError,
    FsCatalog,
    JdbcCatalog,
    RelativeTable,
    absolute_location,
    relative_location,
)


# -- path discipline (A2/A3) --------------------------------------------------

@given(st.text(alphabet="abcdefg/_.-", min_size=1).filter(lambda s: not s.startswith("/")))
@settings(max_examples=200, deadline=None)
def test_relativize_absolutize_roundtrip(rel):
    wh = "/wh/root"
    assert relative_location(wh, absolute_location(wh, rel)) == rel


def test_absolute_uri_passthrough():
    wh = "/wh/root"
    assert absolute_location(wh, "s3a://bucket/x") == "s3a://bucket/x"
    assert absolute_location(wh, "/other/abs/path") == "/other/abs/path"
    assert relative_location(wh, "/other/abs/path") == "/other/abs/path"
    assert relative_location(wh, "/wh/root/ns/t") == "ns/t"


# -- fixtures ----------------------------------------------------------------

@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "warehouse")


@pytest.fixture()
def catalog(warehouse):
    import os

    os.makedirs(warehouse, exist_ok=True)
    return FsCatalog(warehouse)


def _schema_json(spark):
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    return df.schema.jsonValue()


def _make_table(spark, catalog, rows, ns=("ns1",), name="t"):
    if not catalog._namespace_exists(ns):
        catalog.create_namespace(ns)
    df = spark.createDataFrame(rows, "id long, name string")
    ops = catalog.create_table(ns, name, df.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(df)
    return table


# -- README acceptance flow: create/insert/select, relative metadata ----------

def test_create_insert_select_roundtrip(spark, catalog):
    table = _make_table(spark, catalog, [(1, "a"), (2, "b")])
    got = sorted((r.id, r.name) for r in table.read(spark).collect())
    assert got == [(1, "a"), (2, "b")]


def test_metadata_contains_no_absolute_paths(spark, catalog, warehouse):
    table = _make_table(spark, catalog, [(1, "a")])
    meta = table.ops.current()
    blob = json.dumps(meta)
    assert warehouse not in blob, "metadata leaked an absolute warehouse path"
    assert meta["location"] == "ns1/t"
    for s in meta["snapshots"]:
        assert not s["manifest"].startswith("/")
        manifest = json.loads(table.ops.io.read_bytes(s["manifest"]))
        for f in manifest["added-files"]:
            assert not f["path"].startswith("/"), f"absolute data path {f['path']}"


def test_warehouse_move_keeps_table_readable(spark, catalog, warehouse, tmp_path):
    """The reference's headline promise (README.md:112-121)."""
    table = _make_table(spark, catalog, [(1, "a"), (2, "b"), (3, "c")])
    moved = str(tmp_path / "warehouse_moved")
    shutil.move(warehouse, moved)
    catalog2 = FsCatalog(moved)
    table2 = RelativeTable(catalog2.load_table(("ns1",), "t"))
    got = sorted(r.id for r in table2.read(spark).collect())
    assert got == [1, 2, 3]


# -- snapshots / time travel ---------------------------------------------------

def test_append_snapshots_and_time_travel(spark, catalog):
    table = _make_table(spark, catalog, [(1, "a")])
    df2 = spark.createDataFrame([(2, "b")], "id long, name string")
    table.append(df2)
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 2]
    assert sorted(r.id for r in table.read(spark, snapshot_id=1).collect()) == [1]
    snaps = table.snapshots(spark).collect()
    assert [s.snapshot_id for s in snaps] == [1, 2]
    assert all(s.operation == "append" for s in snaps)
    ts1 = snaps[0].timestamp_ms
    assert sorted(r.id for r in table.read(spark, as_of_timestamp_ms=ts1).collect()) == [1]


def test_overwrite_replaces_file_set(spark, catalog):
    table = _make_table(spark, catalog, [(1, "a"), (2, "b")])
    table.overwrite(spark.createDataFrame([(9, "z")], "id long, name string"))
    assert [r.id for r in table.read(spark).collect()] == [9]
    # old snapshot still readable
    assert sorted(r.id for r in table.read(spark, snapshot_id=1).collect()) == [1, 2]


# -- version resolution (the reference's @VisibleForTesting surface) -----------

def test_version_hint_recovery_after_deletion(spark, catalog):
    table = _make_table(spark, catalog, [(1, "a")])
    table.append(spark.createDataFrame([(2, "b")], "id long, name string"))
    ops = table.ops
    ops.io.delete_file(ops.version_hint_file())
    assert ops.find_version() == 3  # recovered by directory scan (v1 create + 2 appends)
    ops._should_refresh = True
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 2]


def test_refresh_probes_forward_past_stale_hint(spark, catalog):
    table = _make_table(spark, catalog, [(1, "a")])
    ops = table.ops
    # fake a stale hint pointing at v1 while v2 exists
    table.append(spark.createDataFrame([(2, "b")], "id long, name string"))
    ops.io.write_bytes(ops.version_hint_file(), b"1")
    ops._should_refresh = True
    meta = ops.refresh()
    assert meta["current-snapshot-id"] == 2


# -- commit protocol ------------------------------------------------------------

def test_commit_race_exactly_one_winner(spark, catalog):
    table = _make_table(spark, catalog, [(1, "a")])
    ops_a = catalog.load_table(("ns1",), "t")
    ops_b = catalog.load_table(("ns1",), "t")
    meta_a = json.loads(json.dumps(ops_a.current()))
    meta_b = json.loads(json.dumps(ops_b.current()))
    base_a, base_b = ops_a.current_version(), ops_b.current_version()
    meta_a["properties"]["writer"] = "a"
    meta_b["properties"]["writer"] = "b"
    ops_a.commit(base_a, meta_a)
    with pytest.raises(CommitFailedError):
        ops_b.commit(base_b, meta_b)


def test_concurrent_append_retries_and_succeeds(spark, catalog):
    """Two RelativeTable handles appending against the same base: the loser
    retries against refreshed metadata and both rows land."""
    table_a = _make_table(spark, catalog, [(1, "a")])
    table_b = RelativeTable(catalog.load_table(("ns1",), "t"))
    table_a.ops.current()
    table_b.ops.current()
    table_a.append(spark.createDataFrame([(2, "b")], "id long, name string"))
    table_b.append(spark.createDataFrame([(3, "c")], "id long, name string"))
    got = sorted(r.id for r in table_b.read(spark).collect())
    assert got == [1, 2, 3]


def test_gzip_metadata_codec(spark, catalog, warehouse):
    ns = ("nsz",)
    catalog.create_namespace(ns)
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    ops = catalog.create_table(
        ns, "tz", df.schema.jsonValue(), properties={"write.metadata.compression": "gzip"}
    )
    table = RelativeTable(ops)
    table.append(df)
    import glob

    assert glob.glob(f"{warehouse}/nsz/tz/metadata/v2.gz.metadata.json")
    assert [r.id for r in table.read(spark).collect()] == [1]


# -- FS catalog namespace/table semantics -----------------------------------------

def test_fs_namespace_and_table_listing(spark, catalog):
    catalog.create_namespace(("ns1",))
    catalog.create_namespace(("ns1", "sub"))
    _make_table(spark, catalog, [(1, "a")], ns=("ns1",), name="t1")
    assert catalog.list_tables(("ns1",)) == ["t1"]
    assert catalog.list_namespaces(("ns1",)) == [("ns1", "sub")]
    assert catalog.load_namespace_metadata(("ns1",)) == {"location": "ns1"}
    with pytest.raises(Exception):
        catalog.drop_namespace(("ns1",))  # non-empty
    assert catalog.drop_table(("ns1",), "t1", purge=True)
    assert catalog.list_tables(("ns1",)) == []
    with pytest.raises(NotImplementedError):
        catalog.rename_table(("ns1",), ("ns2",))


# -- JDBC catalog -----------------------------------------------------------------

@pytest.mark.parametrize("db_driver", ["sqlite", "duckdb"])
def test_jdbc_catalog_crud(spark, tmp_path, db_driver):
    wh = str(tmp_path / "jwh")
    import os

    os.makedirs(wh)
    cat = JdbcCatalog(str(tmp_path / "cat.db"), wh, driver=db_driver)
    cat.create_namespace(("db1",), {"owner": "me"})
    assert cat.load_namespace_metadata(("db1",)) == {"owner": "me"}

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    ops = cat.create_table(("db1",), "t", df.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(df)
    assert cat.list_tables(("db1",)) == ["t"]
    got = sorted(r.id for r in table.read(spark).collect())
    assert got == [1, 2]

    # rename (supported here, unlike FS catalog)
    cat.rename_table(("db1",), "t", ("db1",), "t2")
    assert cat.list_tables(("db1",)) == ["t2"]
    # NOTE: data did not move; pointer row did. Table still reads.
    t2 = RelativeTable(cat.load_table(("db1",), "t2"))
    assert sorted(r.id for r in t2.read(spark).collect()) == [1, 2]

    # views
    cat.create_view(("db1",), "v", "SELECT 1 AS one")
    assert cat.list_views(("db1",)) == ["v"]
    assert cat.load_view_sql(("db1",), "v") == "SELECT 1 AS one"
    with pytest.raises(ValueError):
        cat.create_table(("db1",), "v", df.schema.jsonValue())  # view-aware guard
    cat.rename_view(("db1",), "v", ("db1",), "v2")
    assert cat.load_view_sql(("db1",), "v2") == "SELECT 1 AS one"
    assert cat.drop_view(("db1",), "v2")

    with pytest.raises(ValueError):
        cat.drop_namespace(("db1",))  # still has t2
    assert cat.drop_table(("db1",), "t2", purge=True)
    cat.drop_namespace(("db1",))
    assert not cat.namespace_exists(("db1",))


@pytest.mark.parametrize("db_driver", ["sqlite", "duckdb"])
def test_jdbc_commit_cas(spark, tmp_path, db_driver):
    wh = str(tmp_path / "jwh2")
    import os

    os.makedirs(wh)
    cat = JdbcCatalog(str(tmp_path / "cat2.db"), wh, driver=db_driver)
    cat.create_namespace(("db1",))
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    cat.create_table(("db1",), "t", df.schema.jsonValue())
    ops_a = cat.load_table(("db1",), "t")
    ops_b = cat.load_table(("db1",), "t")
    meta_a, ptr_a = ops_a.current(), ops_a.current_version()
    meta_b, ptr_b = ops_b.current(), ops_b.current_version()
    meta_a["properties"]["w"] = "a"
    ops_a.commit(ptr_a, meta_a)
    with pytest.raises(CommitFailedError):
        ops_b.commit(ptr_b, meta_b)


_V0_DDL = """
CREATE TABLE iceberg_tables (
    catalog_name TEXT NOT NULL,
    table_namespace TEXT NOT NULL,
    table_name TEXT NOT NULL,
    metadata_location TEXT,
    previous_metadata_location TEXT,
    PRIMARY KEY (catalog_name, table_namespace, table_name)
)
"""


@pytest.mark.parametrize("db_driver", ["sqlite", "duckdb"])
def test_jdbc_v0_catalog_upgrades_in_place(spark, tmp_path, db_driver):
    """A pre-existing V0 catalog (no record_type column — created by an
    older deployment) must upgrade in place when opened with V1
    (reference updateSchemaIfRequired): V0 rows stay readable as tables,
    and views become available after the upgrade — on EVERY registered
    DB-API backend."""
    import os

    from iceberg_relative_io_spark.catalog.jdbc_catalog import resolve_db_driver

    drv = resolve_db_driver(db_driver)
    wh = str(tmp_path / "jwh0")
    os.makedirs(wh)
    db = str(tmp_path / "cat0.db")

    # seed a genuine V0 catalog: V0 schema + a table row written by the
    # V0-mode catalog itself
    with drv.connect(db) as con:
        con.execute(_V0_DDL)
    cat0 = JdbcCatalog(db, wh, schema_version="V0", driver=db_driver)
    assert cat0.schema_version == "V0"
    cat0.create_namespace(("db1",))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    ops = cat0.create_table(("db1",), "t", df.schema.jsonValue())
    RelativeTable(ops).append(df)
    assert cat0.list_tables(("db1",)) == ["t"]
    with pytest.raises(NotImplementedError):
        cat0.create_view(("db1",), "v", "SELECT 1 AS one")
    with pytest.raises(NotImplementedError):
        cat0.list_views(("db1",))

    # reopen requesting V1: in-place ALTER, old rows readable, views work
    cat1 = JdbcCatalog(db, wh, schema_version="V1", driver=db_driver)
    assert cat1.schema_version == "V1"
    with drv.connect(db) as con:
        cols = [r[1] for r in con.execute("PRAGMA table_info(iceberg_tables)").fetchall()]
    assert "record_type" in cols
    assert cat1.list_tables(("db1",)) == ["t"]
    t = RelativeTable(cat1.load_table(("db1",), "t"))
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]
    cat1.create_view(("db1",), "v", "SELECT 1 AS one")
    assert cat1.list_views(("db1",)) == ["v"]
    assert cat1.load_view_sql(("db1",), "v") == "SELECT 1 AS one"

    # V0-mode reopen of an already-V1 catalog just reports V1 (the column
    # exists; there is nothing to downgrade)
    assert (
        JdbcCatalog(db, wh, schema_version="V0", driver=db_driver).schema_version
        == "V1"
    )


def test_fs_catalog_suppress_permission_error(spark, tmp_path):
    """Reference `suppress-permission-error` (HadoopRelativeCatalog.java:
    117-124): with the option on, listings skip unreadable subtrees; with
    it off (default), the permission error propagates so a partial
    listing can't masquerade as complete."""
    import os

    from iceberg_relative_io_spark.catalog.fs_catalog import FsCatalog

    wh = str(tmp_path / "permwh")
    os.makedirs(wh)
    open_cat = FsCatalog(wh, suppress_permission_error=True)
    open_cat.create_namespace(("ok",))
    open_cat.create_namespace(("locked",))
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    RelativeTable(open_cat.create_table(("ok",), "t", df.schema.jsonValue())).append(df)

    # simulate the locked-down subtree (tests run as root, so chmod 000
    # wouldn't deny): every metadata probe under locked/ raises EACCES
    def deny_locked(io):
        real = io.list_prefix

        def guarded(prefix):
            if prefix.startswith("locked"):
                raise PermissionError(13, "Permission denied", prefix)
            return real(prefix)

        io.list_prefix = guarded

    strict = FsCatalog(wh)
    deny_locked(strict.io)
    with pytest.raises(PermissionError):
        strict.list_namespaces()

    lax = FsCatalog(wh, suppress_permission_error=True)
    deny_locked(lax.io)
    assert lax.list_namespaces() == [("ok",)]  # locked/ skipped, not listed
    assert lax.list_tables(("ok",)) == ["t"]


# -- partitioned tables, compaction, schema evolution ------------------------------

def test_bloom_filter_skips_files(spark, catalog, sf_dir):
    """Equality on a high-cardinality key must skip files via the manifest
    bloom even though every randomly-distributed file's min/max spans the
    whole key range (range pruning alone keeps all of them)."""
    from iceberg_relative_io_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    ).repartition(8)
    catalog.create_namespace(("bl",))
    ops = catalog.create_table(("bl",), "orders_bloom", orders.schema.jsonValue())
    table = RelativeTable(ops)
    table.set_properties({"write.bloom-filter-columns": "o_orderkey"})
    table.append(orders)

    all_files = table.scan_files()
    assert len(all_files) == 8
    assert all("o_orderkey" in f.get("bloom", {}) for f in all_files)
    hit = table.scan_files(column_ranges={"o_orderkey": (42, 42)})
    assert 0 < len(hit) < len(all_files), "bloom must skip most files"
    # the file(s) kept must actually contain the key; the read is exact
    got = table.read(spark, column_ranges={"o_orderkey": (42, 42)}).filter(
        "o_orderkey = 42"
    )
    assert got.count() == 1
    # range-only predicate (not equality) must NOT consult the bloom
    rng = table.scan_files(column_ranges={"o_orderkey": (40, 45)})
    assert len(rng) == len(all_files)

    # cross-type equality: a float-typed predicate over an int column
    # must canonicalize before the bloom test — the stored int 42 and the
    # predicate 42.0 hash identically, so the file with the key is KEPT
    # (a repr mismatch here would be a silent false negative = wrong rows)
    hit_f = table.scan_files(column_ranges={"o_orderkey": (42.0, 42.0)})
    assert {f["path"] for f in hit} == {f["path"] for f in hit_f}
    got_f = table.read(spark, column_ranges={"o_orderkey": (42.0, 42.0)}).filter(
        "o_orderkey = 42"
    )
    assert got_f.count() == 1
    import numpy as np

    hit_np = table.scan_files(
        column_ranges={"o_orderkey": (np.float64(42.0), np.float64(42.0))}
    )
    assert {f["path"] for f in hit} == {f["path"] for f in hit_np}


def test_partitioned_write_and_manifest_pruning(spark, catalog, sf_dir):
    from iceberg_relative_io_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    catalog.create_namespace(("pt",))
    ops = catalog.create_table(
        ("pt",), "li_part", li.schema.jsonValue(), partition_by=["l_returnflag"]
    )
    table = RelativeTable(ops)
    table.append(li)

    all_files = table.scan_files()
    pruned = table.scan_files(partition_filter={"l_returnflag": "A"})
    assert 0 < len(pruned) < len(all_files), "partition filter must prune files"
    assert all(f["partition"] == {"l_returnflag": "A"} for f in pruned)
    # metadata stays relative even with hive-style partition dirs
    assert all(not f["path"].startswith("/") for f in all_files)

    got = table.read(spark, partition_filter={"l_returnflag": "A"})
    want = li.filter(li.l_returnflag == "A")
    assert got.count() == want.count()
    assert sorted(got.columns) == sorted(li.columns)
    # values round-trip (partition column restored from dir names)
    assert got.filter(got.l_returnflag != "A").count() == 0


def test_compaction_rewrites_files_keeps_history(spark, catalog):
    table = _make_table(spark, catalog, [(1, "a")], ns=("cp",), name="t")
    table.append(spark.createDataFrame([(2, "b")], "id long, name string"))
    table.append(spark.createDataFrame([(3, "c")], "id long, name string"))
    files_before = len(table.scan_files())
    assert files_before >= 3
    table.compact(spark, target_partitions=1)
    assert len(table.scan_files()) == 1
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 2, 3]
    # pre-compaction snapshot still readable with the old file layout
    assert len(table.scan_files(snapshot_id=3)) == files_before
    snaps = {s.snapshot_id: s.operation for s in table.snapshots(spark).collect()}
    assert snaps[4] == "replace"


def test_schema_evolution_add_column(spark, catalog):
    table = _make_table(spark, catalog, [(1, "a")], ns=("ev",), name="t")
    table.add_column("score", "double")
    table.ops._should_refresh = True
    df2 = spark.createDataFrame([(2, "b", 0.5)], "id long, name string, score double")
    table.append(df2)
    rows = {r.id: r.score for r in table.read(spark).collect()}
    assert rows[2] == 0.5
    assert rows[1] is None, "pre-evolution rows must read NULL for the new column"


def test_schema_evolution_rename_column(spark, catalog):
    """Id-based rename: files written before AND after the rename read
    correctly under the new logical name."""
    table = _make_table(spark, catalog, [(1, "a")], ns=("ev",), name="ren")
    table.rename_column("name", "label")
    table.ops._should_refresh = True
    table.append(spark.createDataFrame([(2, "b")], "id long, label string"))
    rows = {r.id: r.label for r in table.read(spark).collect()}
    assert rows == {1: "a", 2: "b"}
    with pytest.raises(ValueError, match="no such column"):
        table.rename_column("name", "x")


def _both_reads(spark, warehouse, table, name):
    """The native read and the DSv2 ``relative`` read of one table."""
    from iceberg_relative_io_spark.sources.relative_datasource import (
        RelativeDataSource,
    )

    spark.dataSource.register(RelativeDataSource)
    dsv2 = (
        spark.read.format("relative")
        .option("warehouse", warehouse)
        .option("table", name)
        .load()
    )
    return [table.read(spark), dsv2]


def test_schema_evolution_drop_then_readd_does_not_resurrect(spark, catalog, warehouse):
    """The Iceberg id-semantics test: drop a column, re-add the same name
    — values written before the drop must NOT resurface. Likewise after
    a rename and a re-add of the old name: the old files hold the
    renamed column under the re-added name, and must read NULL for it.
    Both readers."""
    table = _make_table(spark, catalog, [(1, "old")], ns=("ev",), name="dr")
    table.drop_column("name")
    table.ops._should_refresh = True
    assert table.read(spark).columns == ["id"]
    table.add_column("name", "string")
    table.ops._should_refresh = True
    table.append(spark.createDataFrame([(2, "new")], "id long, name string"))
    for df in _both_reads(spark, warehouse, table, "ev.dr"):
        rows = {r.id: r.name for r in df.collect()}
        assert rows == {1: None, 2: "new"}, "pre-drop values must stay buried"

    table = _make_table(spark, catalog, [(1, "old")], ns=("ev",), name="rr")
    table.rename_column("name", "label")
    table.ops._should_refresh = True
    table.add_column("name", "string")
    table.ops._should_refresh = True
    table.append(
        spark.createDataFrame([(2, "lbl", "new")], "id long, label string, name string")
    )
    for df in _both_reads(spark, warehouse, table, "ev.rr"):
        rows = {r.id: (r.label, r.name) for r in df.collect()}
        assert rows == {1: ("old", None), 2: ("lbl", "new")}


def test_mor_delete_survives_key_column_rename(spark, catalog, warehouse):
    """An equality delete records its key columns' ids, so renaming the
    key column afterwards neither breaks a read nor revives the deleted
    row, and a key re-appended after the rename survives the delete.
    Both readers."""
    from pyspark.sql import functions as F

    table = _make_table(spark, catalog, [(1, "a"), (2, "b")], ns=("ev",), name="mr")
    table.delete_where_mor(spark, F.col("name") == "a", ["name"])
    table.ops._should_refresh = True
    table.rename_column("name", "kk")
    table.ops._should_refresh = True
    for df in _both_reads(spark, warehouse, table, "ev.mr"):
        assert {(r.id, r.kk) for r in df.collect()} == {(2, "b")}
    table.append(spark.createDataFrame([(3, "a")], "id long, kk string"))
    for df in _both_reads(spark, warehouse, table, "ev.mr"):
        assert {(r.id, r.kk) for r in df.collect()} == {(2, "b"), (3, "a")}


def test_protocol_change_reread(spark, catalog):
    """The README's second headline (reference README.md:112-121): re-read
    the same warehouse under a different protocol — posix path on write,
    file:// URI on read — with zero metadata rewrites, because every
    stored path is warehouse-relative."""
    table = _make_table(spark, catalog, [(1, "a"), (2, "b")], ns=("proto",), name="t")
    assert not catalog.warehouse.startswith("file://")
    cat2 = FsCatalog("file://" + catalog.warehouse.rstrip("/"))
    got = RelativeTable(cat2.load_table(("proto",), "t")).read(spark)
    assert sorted((r.id, r.name) for r in got.collect()) == [(1, "a"), (2, "b")]


def test_sort_order_clusters_files_for_range_pruning(spark, catalog):
    """A sort-ordered table writes range-disjoint files, so a range filter
    prunes most of them at the manifest level before Spark plans a scan."""
    catalog.create_namespace(("so",))
    li = spark.range(0, 10_000).selectExpr("id AS k", "id % 97 AS v")
    ops = catalog.create_table(
        ("so",), "clustered", li.schema.jsonValue(), sort_order=["k"]
    )
    table = RelativeTable(ops)
    # AQE would rightly coalesce this toy write into one file; pin the
    # partition count so the test observes multi-file clustering
    before = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        table.append(li.repartition(8))
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", before)
    assert table.ops.current()["sort-order"] == ["k"]
    all_files = table.scan_files()
    assert len(all_files) >= 4
    pruned = table.scan_files(column_ranges={"k": (0, 10)})
    assert len(pruned) == 1, "a 10-key range must touch exactly one clustered file"
    got = table.read(spark, column_ranges={"k": (0, 10)}).filter("k <= 10")
    assert got.count() == 11


def test_wap_fast_forward_publishes_branch(spark, catalog):
    """Write-audit-publish: stage an append on an audit branch (invisible
    to main), validate, fast-forward main to publish atomically."""
    table = _make_table(spark, catalog, [(1, "a")], ns=("wap",), name="t")
    table.create_branch("audit")
    table.append(
        spark.createDataFrame([(2, "staged")], "id long, name string"),
        branch="audit",
    )
    assert table.read(spark).count() == 1  # main unchanged
    assert table.read(spark, branch="audit").count() == 2
    table.fast_forward("audit")
    assert {r.name for r in table.read(spark).collect()} == {"a", "staged"}


def test_fast_forward_refuses_diverged_main(spark, catalog):
    """Publishing a branch after main has advanced past the branch point
    is NOT a fast-forward: silently moving main would drop main's
    interim commits (data loss). Iceberg refuses; so do we."""
    import pytest as _pytest

    table = _make_table(spark, catalog, [(1, "a")], ns=("wap",), name="t2")
    table.create_branch("audit")
    table.append(
        spark.createDataFrame([(2, "staged")], "id long, name string"),
        branch="audit",
    )
    # main advances independently -> divergence
    table.append(spark.createDataFrame([(3, "main")], "id long, name string"))
    with _pytest.raises(ValueError, match="fast-forward"):
        table.fast_forward("audit")
    # main's commit survived untouched
    assert {r.name for r in table.read(spark).collect()} == {"a", "main"}
    # the Iceberg remedy: cherry-pick the staged append onto moved main
    staged_sid = table.ops.current()["refs"]["audit"]
    table.cherry_pick_snapshot(staged_sid)
    assert {r.name for r in table.read(spark).collect()} == {
        "a", "main", "staged"
    }


def test_incremental_manifests_store_only_added(spark, catalog):
    """Commit cost must be O(added files): each manifest records only its
    snapshot's additions; the live set comes from the parent-chain walk."""
    table = _make_table(spark, catalog, [(1, "a")], ns=("inc",), name="t")
    table.append(spark.createDataFrame([(2, "b")], "id long, name string"))
    meta = table.ops.current()
    n_added = 0
    for s in meta["snapshots"]:
        manifest = json.loads(table.ops.io.read_bytes(s["manifest"]))
        assert "data-files" not in manifest
        assert len(manifest["added-files"]) >= 1
        n_added += len(manifest["added-files"])
    # chain walk accumulates exactly the per-snapshot additions
    assert len(table.scan_files()) == n_added
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 2]


def test_column_stats_file_skipping(spark, catalog, sf_dir):
    """Footer min/max in the manifest lets a range predicate skip whole
    files before Spark plans the scan."""
    from pyspark.sql import functions as F

    from iceberg_relative_io_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    catalog.create_namespace(("st",))
    ops = catalog.create_table(("st",), "t", li.schema.jsonValue())
    table = RelativeTable(ops)
    # three appends with disjoint l_orderkey ranges -> three stats islands
    for lo, hi in [(0, 500), (500, 1000), (1000, 10**9)]:
        table.append(li.filter((F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi)).coalesce(1))
    all_files = table.scan_files()
    assert all("l_orderkey" in f.get("min", {}) for f in all_files if f["row-count"] > 0)
    pruned = table.scan_files(column_ranges={"l_orderkey": (0, 400)})
    assert len(pruned) < len(all_files)
    got = table.read(spark, column_ranges={"l_orderkey": (0, 400)})
    # pruning is a superset guarantee: every row <=400 must survive
    want = li.filter(F.col("l_orderkey") <= 400).count()
    assert got.filter(F.col("l_orderkey") <= 400).count() == want


# -- maintenance: snapshot expiry + orphan cleanup ---------------------------------

def test_expire_snapshots_tombstones_ancestors(spark, catalog, warehouse):
    import glob

    table = _make_table(spark, catalog, [(1, "a")], ns=("mx",), name="t")
    table.append(spark.createDataFrame([(2, "b")], "id long, name string"))
    table.append(spark.createDataFrame([(3, "c")], "id long, name string"))
    res = table.expire_snapshots(keep_last=1)
    table.ops._should_refresh = True
    assert res["expired"] == 2
    # current snapshot intact — every row still readable via the chain walk
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 2, 3]
    # ancestors were needed by the retained head: nothing deletable
    assert res["deleted_files"] == 0
    # expired snapshots invisible + unreadable
    assert [s.snapshot_id for s in table.snapshots(spark).collect()] == [3]
    with pytest.raises(ValueError):
        table.read(spark, snapshot_id=1)


def test_expire_after_overwrite_deletes_shadowed_files(spark, catalog, warehouse):
    table = _make_table(spark, catalog, [(1, "a"), (2, "b")], ns=("mo",), name="t")
    table.overwrite(spark.createDataFrame([(9, "z")], "id long, name string"))
    res = table.expire_snapshots(keep_last=1)
    table.ops._should_refresh = True
    # snapshot 1's files are shadowed by the overwrite and now deleted
    assert res["expired"] == 1 and res["deleted_files"] >= 1
    assert [r.id for r in table.read(spark).collect()] == [9]


def test_remove_orphan_files(spark, catalog):
    table = _make_table(spark, catalog, [(1, "a")], ns=("orf",), name="t")
    # simulate a failed write: a data file no manifest references
    orphan = f"{table.ops.location}/data/snap-deadbeef/part-orphan.parquet"
    table.ops.io.write_bytes(orphan, b"junk")
    deleted = table.remove_orphan_files()
    assert orphan in deleted
    assert not table.ops.io.exists(orphan)
    # referenced data untouched
    assert [r.id for r in table.read(spark).collect()] == [1]


def test_remove_orphan_files_removes_emptied_directories(spark, catalog):
    """After compaction and expiry have reaped every superseded write,
    the sweep leaves no empty directory under data/: three appends to a
    four-partition table, compact, expire_snapshots(keep_last=1), sweep."""
    import os

    catalog.create_namespace(("ord",))
    df = spark.createDataFrame(
        [(i, f"p{i % 4}") for i in range(12)], "id long, part string"
    )
    table = RelativeTable(
        catalog.create_table(
            ("ord",), "t", df.schema.jsonValue(), partition_by=["part"]
        )
    )
    for lo in (0, 4, 8):
        table.append(df.filter(f"id >= {lo} and id < {lo + 4}"))
    table.compact(spark)
    table.expire_snapshots(keep_last=1)
    table.remove_orphan_files()
    data_root = table.ops.io.absolute(f"{table.ops.location}/data")
    empty = [
        d for d, subdirs, names in os.walk(data_root)
        if not subdirs and not names
    ]
    assert empty == []
    assert sorted(r.id for r in table.read(spark).collect()) == list(range(12))


# -- row-level ops + branches --------------------------------------------------

def test_delete_where_copy_on_write(spark, catalog):
    from pyspark.sql import functions as F

    table = _make_table(spark, catalog, [(1, "a"), (2, "b"), (3, "c")], ns=("dw",), name="t")
    table.delete_where(spark, F.col("id") == 2)
    table.ops._should_refresh = True
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 3]
    # pre-delete snapshot still time-travelable
    assert sorted(r.id for r in table.read(spark, snapshot_id=1).collect()) == [1, 2, 3]
    snaps = table.snapshots(spark).collect()
    assert snaps[-1].operation == "delete"


def test_merge_upsert(spark, catalog):
    table = _make_table(spark, catalog, [(1, "a"), (2, "b")], ns=("mg",), name="t")
    source = spark.createDataFrame([(2, "b2"), (9, "z")], "id long, name string")
    table.merge(spark, source, ["id"])
    table.ops._should_refresh = True
    got = dict((r.id, r.name) for r in table.read(spark).collect())
    assert got == {1: "a", 2: "b2", 9: "z"}


def test_merge_latest_tiebreak_is_deterministic(spark, catalog):
    """Redelivered CDC records: rows identical on key AND order columns
    but different in payload must elect the same survivor on every run
    (content-hash tiebreak), not whichever partition Spark scheduled
    first."""
    catalog.create_namespace(("mgt",))
    seed = spark.createDataFrame([(1, "seed", 0)], "id long, name string, ts long")
    ops = catalog.create_table(("mgt",), "t", seed.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(seed)
    # two same-key same-ts payloads, deliberately delivered twice
    src = spark.createDataFrame(
        [(7, "payload-a", 5), (7, "payload-b", 5)],
        "id long, name string, ts long",
    ).repartition(4)
    got = set()
    for _ in range(3):
        t = RelativeTable(table.ops)
        t.merge_latest(spark, src, key_cols=["id"], order_cols=["ts"])
        t.ops._should_refresh = True
        row = [r for r in t.read(spark).collect() if r.id == 7]
        assert len(row) == 1
        got.add(row[0].name)
    assert len(got) == 1  # same survivor all three runs


def test_branches_isolate_writes(spark, catalog):
    table = _make_table(spark, catalog, [(1, "a")], ns=("br",), name="t")
    table.create_branch("audit")
    table.ops._should_refresh = True
    table.append(spark.createDataFrame([(2, "b")], "id long, name string"), branch="audit")
    table.ops._should_refresh = True
    # main unaffected by the branch write
    assert sorted(r.id for r in table.read(spark).collect()) == [1]
    assert sorted(r.id for r in table.read(spark, branch="audit").collect()) == [1, 2]
    # main advances independently
    table.append(spark.createDataFrame([(3, "c")], "id long, name string"))
    table.ops._should_refresh = True
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 3]
    assert sorted(r.id for r in table.read(spark, branch="audit").collect()) == [1, 2]
    assert set(table.branches()) == {"main", "audit"}


def test_expire_retains_branch_heads(spark, catalog):
    table = _make_table(spark, catalog, [(1, "a")], ns=("bre",), name="t")
    table.create_branch("keepme")
    table.ops._should_refresh = True
    table.append(spark.createDataFrame([(2, "b")], "id long, name string"))
    table.append(spark.createDataFrame([(3, "c")], "id long, name string"))
    table.expire_snapshots(keep_last=1)
    table.ops._should_refresh = True
    # branch head (snapshot 1) must survive expiry and still read
    assert sorted(r.id for r in table.read(spark, branch="keepme").collect()) == [1]
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 2, 3]


def test_zorder_rewrite_improves_two_column_pruning(spark, catalog):
    """Z-order recluster: after rewrite_zorder on (x, y), a box query on
    BOTH columns must plan strictly fewer files than the unclustered
    layout, with identical data and time-travelable history."""
    from iceberg_relative_io_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    ops = catalog.create_table(("zo",), "t", li.schema.jsonValue())
    table = RelativeTable(ops)
    # unclustered layout: 8 files split on arrival order (l_orderkey-ish),
    # so every file spans nearly the full (l_partkey, l_suppkey) domain
    table.append(li.repartition(8))
    total_rows = table.read(spark).count()
    box = {"l_partkey": (1, 20), "l_suppkey": (1, 2)}
    files_before = len(table.scan_files(column_ranges=box))
    pre_snapshot = table.ops.current()["current-snapshot-id"]
    assert files_before == 8, "unclustered files should all survive pruning"

    table.rewrite_zorder(spark, ["l_partkey", "l_suppkey"], target_partitions=8)
    files_after = len(table.scan_files(column_ranges=box))
    assert files_after < files_before
    # data unchanged, box-query values identical
    assert table.read(spark).count() == total_rows
    got = table.read(spark, column_ranges=box).filter(
        "l_partkey BETWEEN 1 AND 20 AND l_suppkey BETWEEN 1 AND 2"
    )
    want = li.filter("l_partkey BETWEEN 1 AND 20 AND l_suppkey BETWEEN 1 AND 2")
    assert got.count() == want.count()
    # old layout still reachable through time travel
    assert len(table.scan_files(snapshot_id=pre_snapshot)) == 8


def test_tags_pin_snapshots_and_survive_expiry(spark, catalog):
    table = _make_table(spark, catalog, [(1, "a")], ns=("tg",), name="t")
    table.create_tag("v1")
    v1_snap = table.tags()["v1"]
    table.append(spark.createDataFrame([(2, "b")], "id long, name string"))
    table.append(spark.createDataFrame([(3, "c")], "id long, name string"))
    # tag reads stay pinned while main advances
    assert [r.id for r in table.read(spark, tag="v1").collect()] == [1]
    assert table.read(spark).count() == 3
    # tags are immutable refs: not committable as branches
    with pytest.raises(ValueError):
        table.append(spark.createDataFrame([(9, "x")], "id long, name string"), branch="v1")
    # expire keeps the tagged snapshot alive
    table.expire_snapshots(keep_last=1)
    assert [r.id for r in table.read(spark, tag="v1").collect()] == [1]
    with pytest.raises(ValueError):
        table.read(spark, tag="nope")


def test_rollback_to_snapshot_restores_old_head(spark, catalog):
    table = _make_table(spark, catalog, [(1, "a")], ns=("rb",), name="t")
    good = table.ops.current()["current-snapshot-id"]
    table.append(spark.createDataFrame([(99, "bad")], "id long, name string"))
    assert table.read(spark).count() == 2
    table.rollback_to_snapshot(good)
    assert [r.id for r in table.read(spark).collect()] == [1]
    # the bad snapshot is still time-travelable (history preserved)
    assert table.read(spark, snapshot_id=good + 1).count() == 2
    # a new append extends the rolled-back head
    table.append(spark.createDataFrame([(2, "b")], "id long, name string"))
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 2]
    # non-ancestor (the abandoned bad snapshot) is not a rollback target
    with pytest.raises(ValueError):
        table.rollback_to_snapshot(good + 1)


def test_partition_evolution_mixed_layouts(spark, catalog):
    """update_partition_spec: unpartitioned-era and partitioned-era files
    coexist in one snapshot; reads union both layouts, partition pruning
    skips only new-era files and conservatively keeps old-era ones."""
    table = _make_table(spark, catalog, [(1, "a"), (2, "b")], ns=("pe",), name="t")
    table.update_partition_spec(["name"])
    table.ops._should_refresh = True
    table.append(
        spark.createDataFrame([(3, "a"), (4, "c")], "id long, name string")
    )
    got = {(r.id, r.name) for r in table.read(spark).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "a"), (4, "c")}
    files = table.scan_files(partition_filter={"name": "a"})
    # both old-era files (no partition tuple => kept) and exactly the one
    # new-era name=a file survive
    new_era = [f for f in files if f.get("partition")]
    old_era = [f for f in files if not f.get("partition")]
    assert len(new_era) == 1 and new_era[0]["partition"] == {"name": "a"}
    assert old_era, "pre-evolution files must never be pruned by the new key"
    # filtered read over the pruned plan still yields exact values
    rows = {r.id for r in table.read(spark, partition_filter={"name": "a"})
            .filter("name = 'a'").collect()}
    assert rows == {1, 3}
    with pytest.raises(ValueError):
        table.update_partition_spec(["nope"])


def test_hidden_partitioning_day_transform(spark, catalog):
    """day(ts) layout: queries filter the SOURCE column; pruning maps the
    range onto the derived day directories (Iceberg hidden partitioning).
    The source column stays physical in the data files."""
    df = spark.createDataFrame(
        [(1, "2024-01-01 08:00:00", 10.0), (2, "2024-01-01 17:30:00", 20.0),
         (3, "2024-01-02 09:15:00", 30.0), (4, "2024-01-03 23:59:59", 40.0)],
        "id long, ts string, v double",
    )
    ops = catalog.create_table(
        ("hp",), "t", df.schema.jsonValue(), partition_by=["day(ts)"]
    )
    table = RelativeTable(ops)
    table.append(df)
    files = table.scan_files()
    assert {f["partition"]["ts_day"] for f in files} == {
        "2024-01-01", "2024-01-02", "2024-01-03",
    }
    # range predicate on ts prunes to one day's file(s)
    pruned = table.scan_files(
        column_ranges={"ts": ("2024-01-02 00:00:00", "2024-01-02 23:59:59")}
    )
    assert {f["partition"]["ts_day"] for f in pruned} == {"2024-01-02"}
    # read returns full rows incl. the physical source column
    got = table.read(
        spark, column_ranges={"ts": ("2024-01-02 00:00:00", "2024-01-02 23:59:59")}
    )
    assert [(r.id, r.ts, r.v) for r in got.collect()] == [
        (3, "2024-01-02 09:15:00", 30.0)
    ]
    assert set(table.read(spark).columns) == {"id", "ts", "v"}  # layout col hidden
    assert table.read(spark).count() == 4


def test_bucket_and_truncate_transforms(spark, catalog):
    df = spark.createDataFrame(
        [(i, f"code{i % 3}x{i}") for i in range(20)], "id long, code string"
    )
    ops = catalog.create_table(
        ("hp",), "bt", df.schema.jsonValue(),
        partition_by=["bucket(4, id)", "truncate(5, code)"],
    )
    table = RelativeTable(ops)
    table.append(df)
    files = table.scan_files()
    buckets = {f["partition"]["id_bucket"] for f in files}
    truncs = {f["partition"]["code_truncate"] for f in files}
    assert buckets <= {"0", "1", "2", "3"} and len(buckets) > 1
    assert truncs == {"code0", "code1", "code2"}
    # truncate is order-preserving: a range on code prunes directories
    pruned = table.scan_files(column_ranges={"code": ("code1", "code1zzz")})
    assert {f["partition"]["code_truncate"] for f in pruned} == {"code1"}
    # full data round-trips
    assert table.read(spark).count() == 20
    assert {r.id for r in table.read(spark).collect()} == set(range(20))

    # bucket layout uses the Iceberg-spec Murmur3 on new tables (recorded
    # in metadata as transform versioning), so the dir value must equal
    # the driver-side spec hash...
    from iceberg_relative_io_spark.catalog.bucket_hash import bucket_value

    assert ops.current().get("bucket-hash") == "murmur3"
    probe_id = 7
    want_bucket = str(bucket_value(probe_id, 4))
    hit = [
        f for f in files
        if any(r.id == probe_id
               for r in spark.read.parquet(
                   table.ops.io.spark_path(f["path"])).select("id").collect())
    ]
    assert hit and all(f["partition"]["id_bucket"] == want_bucket for f in hit)
    # ...and an EQUALITY predicate on the source column prunes the
    # layout driver-side (xxhash64 had no Python mirror; murmur3 does)
    eq = table.scan_files(column_ranges={"id": (probe_id, probe_id)})
    assert {f["partition"]["id_bucket"] for f in eq} == {want_bucket}
    assert len(eq) < len(files)
    # a RANGE predicate must not consult the bucket (not order-preserving);
    # a full-span range keeps every file (min/max stats can't skip either)
    rng = table.scan_files(column_ranges={"id": (0, 19)})
    assert len(rng) == len(files)
    got = table.read(spark, column_ranges={"id": (probe_id, probe_id)}).filter(
        f"id = {probe_id}"
    )
    assert got.count() == 1


def test_rollback_past_reaped_ancestors(spark, catalog):
    """Rollback to a valid post-compaction ancestor must work even when
    expire_snapshots has fully REMOVED pre-compaction snapshot entries
    while the chain-reset snapshot still carries its parent pointer —
    the ancestry walk ends at the reaped boundary instead of raising
    'no snapshot N' (fuzz_evolution finding, round 6)."""
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    ops = catalog.create_table(("hp",), "rbx", df.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(df)
    table.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    table.compact(spark)  # chain reset; parent pointer survives
    target = ops.current()["current-snapshot-id"]
    table.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    table.expire_snapshots(keep_last=2)  # reap the pre-compact entries
    live = {s["snapshot-id"] for s in ops.current()["snapshots"]}
    assert len(live) <= 3
    table.rollback_to_snapshot(target)
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 2]


def test_dml_fuzz_one_seed(spark):
    """One seeded random DML interleaving (tools/fuzz_dml.py) in the
    suite: append / MOR+COW delete+update / merge / dynamic overwrite /
    maintenance, DuckDB-mirror-checked after every op. The full
    multi-seed sweep runs from the verify recipe; this pins the harness
    itself working (the round-4 rewrite_manifests resurrection is the
    bug class it catches mechanically)."""
    import sys as _sys
    from pathlib import Path as _Path

    _sys.path.insert(0, str(_Path(__file__).resolve().parent.parent / "tools"))
    import fuzz_dml

    assert fuzz_dml.run_seed(spark, seed=0, n_ops=12) == []


def test_bucket_murmur3_string_and_date_sources(spark, catalog):
    """The spec hash byte-representations per source type: string
    (utf-8) and date (days-since-epoch widened to long) layouts must
    match the driver-side mirror so pruning never skips a live file."""
    import datetime as dt

    from iceberg_relative_io_spark.catalog.bucket_hash import bucket_value

    rows = [
        (f"key{i}", dt.date(2024, 1, 1) + dt.timedelta(days=i % 11), i)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "k string, d date, v long")
    ops = catalog.create_table(
        ("hp",), "bms", df.schema.jsonValue(),
        partition_by=["bucket(3, k)", "bucket(5, d)"],
    )
    table = RelativeTable(ops)
    table.append(df)
    for f in table.scan_files():
        data = spark.read.parquet(table.ops.io.spark_path(f["path"])).collect()
        for r in data:
            assert str(bucket_value(r.k, 3)) == f["partition"]["k_bucket"]
            assert str(bucket_value(r.d, 5)) == f["partition"]["d_bucket"]
    # equality pruning on the string source
    eq = table.scan_files(column_ranges={"k": ("key7", "key7")})
    assert {f["partition"]["k_bucket"] for f in eq} == {str(bucket_value("key7", 3))}
    assert table.read(spark).count() == 40


def test_legacy_xxhash_bucket_equality_pruning(spark, catalog):
    """Pre-murmur3 tables (no bucket-hash metadata key) laid out with
    pmod(xxhash64(col), N) now ALSO prune equality predicates
    driver-side: the Python XXH64 mirror (bucket_hash.xxhash64_*) is
    pinned to Spark's own F.xxhash64 output, so the derived bucket can
    never disagree with the layout."""
    import json as _json

    from iceberg_relative_io_spark.catalog.bucket_hash import (
        legacy_bucket_value,
        xxhash64_long,
    )

    df = spark.createDataFrame([(i, f"v{i}") for i in range(40)], "id long, v string")
    ops = catalog.create_table(
        ("hp",), "legacy_b", df.schema.jsonValue(), partition_by=["bucket(4, id)"]
    )
    meta = _json.loads(_json.dumps(ops.current()))
    del meta["bucket-hash"]  # age to the pre-switch dialect
    ops.commit(ops.current_version(), meta)
    ops.refresh()
    table = RelativeTable(ops)
    table.append(df)
    files = table.scan_files()
    # sanity: the layout really is the xxhash64 one (hashLong — the
    # source is LongType; an IntegerType source hashes via hashInt and
    # the mirror is width-sensitive, see the int case below)
    from pyspark.sql import types as T

    want = str(((xxhash64_long(7) % 4) + 4) % 4)
    assert want == str(legacy_bucket_value(7, 4, T.LongType()))
    assert legacy_bucket_value(7, 4) is None  # unknown width: no guess
    hit = [
        f for f in files
        if any(r.id == 7 for r in spark.read.parquet(
            table.ops.io.spark_path(f["path"])).select("id").collect())
    ]
    assert hit and all(f["partition"]["id_bucket"] == want for f in hit)
    eq = table.scan_files(column_ranges={"id": (7, 7)})
    assert {f["partition"]["id_bucket"] for f in eq} == {want}
    assert len(eq) < len(files)
    got = table.read(spark, column_ranges={"id": (7, 7)}).filter("id = 7")
    assert got.count() == 1


def test_legacy_xxhash_bucket_int_source_uses_hashint(spark, catalog):
    """Spark's xxhash64 hashes IntegerType via the 4-byte hashInt path,
    NOT hashLong — a width-blind mirror would derive the wrong bucket
    and prune the file that actually holds the key (silent row loss,
    round-6 review finding). The pruned read must stay exact on an
    int-typed legacy bucket source."""
    import json as _json

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "id int, v string"
    )
    ops = catalog.create_table(
        ("hp",), "legacy_bi", df.schema.jsonValue(), partition_by=["bucket(4, id)"]
    )
    meta = _json.loads(_json.dumps(ops.current()))
    del meta["bucket-hash"]
    ops.commit(ops.current_version(), meta)
    ops.refresh()
    table = RelativeTable(ops)
    table.append(df)
    for probe in (3, 7, 21, 33):
        got = table.read(
            spark, column_ranges={"id": (probe, probe)}
        ).filter(f"id = {probe}")
        assert got.count() == 1, f"pruned away the live file for id={probe}"
    eq = table.scan_files(column_ranges={"id": (7, 7)})
    assert len(eq) < len(table.scan_files())  # pruning actually engaged


def test_bucket_murmur3_binary_and_decimal_sources(spark, catalog):
    """Binary (raw bytes) and decimal (minimal two's-complement unscaled
    bytes) are spec-valid bucket sources the legacy xxhash64 path also
    supported — the murmur3 write path must cover them, and the layout
    must match the driver-side mirror."""
    from decimal import Decimal

    from iceberg_relative_io_spark.catalog.bucket_hash import bucket_value

    rows = [
        (i, bytes([i % 7, i % 5, i % 3]), Decimal(f"{i}.{i % 10}5"))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "i long, payload binary, amt decimal(10,2)")
    ops = catalog.create_table(
        ("hp",), "bbd", df.schema.jsonValue(),
        partition_by=["bucket(4, payload)", "bucket(3, amt)"],
    )
    table = RelativeTable(ops)
    table.append(df)
    for f in table.scan_files():
        data = spark.read.parquet(table.ops.io.spark_path(f["path"])).collect()
        for r in data:
            assert str(bucket_value(bytes(r.payload), 4)) == f["partition"]["payload_bucket"]
            assert str(bucket_value(r.amt, 3)) == f["partition"]["amt_bucket"]
    assert table.read(spark).count() == 30


# -- property tests: partition transforms + z-order ---------------------------

@given(st.sampled_from(["ts", "col_a", "x1"]))
@settings(max_examples=20, deadline=None)
def test_parse_identity_roundtrip(col):
    from iceberg_relative_io_spark.catalog.spark_table import parse_partition_field

    f = parse_partition_field(col)
    assert f == {"kind": "identity", "source": col, "arg": None, "name": col}


@given(
    st.sampled_from(["day", "month"]),
    st.datetimes(
        min_value=__import__("datetime").datetime(1990, 1, 1),
        max_value=__import__("datetime").datetime(2050, 12, 31),
    ),
    st.datetimes(
        min_value=__import__("datetime").datetime(1990, 1, 1),
        max_value=__import__("datetime").datetime(2050, 12, 31),
    ),
)
@settings(max_examples=200, deadline=None)
def test_transform_value_order_preserving(kind, a, b):
    """Pruning soundness hinges on transforms preserving order: lo <= hi
    must imply t(lo) <= t(hi), for both datetime objects and ISO strings."""
    from iceberg_relative_io_spark.catalog.spark_table import (
        _transform_value,
        parse_partition_field,
    )

    fdef = parse_partition_field(f"{kind}(ts)")
    lo, hi = (a, b) if a <= b else (b, a)
    assert _transform_value(fdef, lo) <= _transform_value(fdef, hi)
    assert _transform_value(fdef, lo.isoformat()) <= _transform_value(fdef, hi.isoformat())


@given(st.text(alphabet="abcXYZ019 .-", max_size=30), st.text(alphabet="abcXYZ019 .-", max_size=30))
@settings(max_examples=200, deadline=None)
def test_truncate_transform_order_preserving(a, b):
    from iceberg_relative_io_spark.catalog.spark_table import (
        _transform_value,
        parse_partition_field,
    )

    fdef = parse_partition_field("truncate(5, s)")
    lo, hi = (a, b) if a <= b else (b, a)
    assert _transform_value(fdef, lo) <= _transform_value(fdef, hi)


def test_parse_transform_rejects_bad_entries():
    from iceberg_relative_io_spark.catalog.spark_table import parse_partition_field

    with pytest.raises(ValueError):
        parse_partition_field("years(ts)")
    with pytest.raises(ValueError):
        parse_partition_field("bucket(ts)")  # missing width
    with pytest.raises(ValueError):
        parse_partition_field("truncate(code)")


def test_merge_on_read_equality_deletes(spark, catalog):
    """MOR delete: O(deleted-keys) commit, reader-side anti-join, scoped
    so later re-inserts of a deleted key survive; compaction materializes
    the deletes; maintenance never reaps a live delete file."""
    from pyspark.sql import functions as F

    table = _make_table(
        spark, catalog, [(i, f"n{i}") for i in range(10)], ns=("mor",), name="t"
    )
    before = table.read(spark).count()
    assert before == 10
    files_before = {f["path"] for f in table.scan_files()}
    res = table.delete_where_mor(spark, F.col("id") < 3, equality_cols=["id"])
    assert res["operation"] == "delete-mor"
    table.ops._should_refresh = True
    # no data files rewritten: the delete cost one tiny key file
    assert sorted(r.id for r in table.read(spark).collect()) == list(range(3, 10))
    assert {f["path"] for f in table.scan_files()} == files_before
    # pre-delete snapshot still reads all 10 (time travel unaffected)
    assert table.read(spark, snapshot_id=1).count() == 10
    # re-insert one deleted key AFTER the delete: it must survive
    table.append(spark.createDataFrame([(1, "reborn")], "id long, name string"))
    got = {r.id: r.name for r in table.read(spark).collect()}
    assert got[1] == "reborn" and 0 not in got and 2 not in got
    # orphan sweep must not reap the delete file (it is referenced)
    assert table.remove_orphan_files() == []
    assert got == {r.id: r.name for r in table.read(spark).collect()}
    # compaction materializes deletes: one file, same rows, no delete files
    table.compact(spark)
    meta = table.ops.current()
    assert sorted(r.id for r in table.read(spark).collect()) == [1] + list(range(3, 10))
    head = meta["current-snapshot-id"]
    assert table._delete_files(meta, head) == []


def test_mor_delete_large_keyset_degrades_to_shuffled_hash(
    spark, catalog, monkeypatch
):
    """100 TB safety valve on the native MOR read: when the manifest's
    size-bytes says the equality-delete key file is too big to ship to
    every executor, the reader's anti-join flips from broadcast to a
    SHUFFLE_HASH build with identical results (threshold forced to 0
    to take that path on fixture data)."""
    from pyspark.sql import functions as F

    from iceberg_relative_io_spark.catalog import scan

    table = _make_table(
        spark, catalog, [(i, f"n{i}") for i in range(10)], ns=("mor",), name="big"
    )
    table.delete_where_mor(spark, F.col("id") < 4, equality_cols=["id"])
    table.ops._should_refresh = True
    monkeypatch.setattr(scan, "_BROADCAST_DELETE_MAX_BYTES", 0)
    df = table.read(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastHashJoin" not in plan
    assert sorted(r.id for r in df.collect()) == list(range(4, 10))


def test_metadata_tables_manifests_partitions_files_refs_history(spark, catalog):
    """The B29 introspection surface over one table: .manifests walks the
    chain oldest-first with per-manifest add counts, .partitions rolls up
    per-partition file/row/byte stats, .files lists live entries, .refs
    and .history reflect branching and the snapshot log."""
    from pyspark.sql import functions as F

    if not catalog._namespace_exists(("meta",)):
        catalog.create_namespace(("meta",))
    df = spark.createDataFrame(
        [(i, f"n{i}") for i in range(6)], "id long, name string"
    ).coalesce(1)
    ops = catalog.create_table(("meta",), "m", df.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(df)
    table.append(
        spark.createDataFrame(
            [(10, "x"), (11, "y")], "id long, name string"
        ).coalesce(1)
    )
    table.delete_where_mor(spark, F.col("id") == 1, equality_cols=["id"])
    table.ops._should_refresh = True

    man = table.manifests(spark).collect()
    assert [(r.operation, r.added_data_files, r.added_delete_files) for r in man] == [
        ("append", 1, 0),
        ("append", 1, 0),
        ("delete-mor", 0, 1),
    ]
    assert [r.snapshot_id for r in man] == [1, 2, 3]
    assert all(r.length > 0 and r.manifest_path for r in man)

    files = table.files(spark).collect()
    assert len(files) == 2  # two appended data files, delete file excluded
    assert all(r.size_bytes > 0 for r in files)
    assert sum(r.row_count for r in files) == 8  # deletes apply at read, not here

    parts = table.partitions(spark).collect()  # unpartitioned: one bucket
    assert len(parts) == 1 and parts[0].partition == "{}"
    assert parts[0].file_count == 2 and parts[0].row_count == 8

    table.create_tag("v1")
    table.create_branch("dev")
    refs = {(r.name, r.type): r.snapshot_id for r in table.refs(spark).collect()}
    assert refs[("v1", "TAG")] == 3 and refs[("dev", "BRANCH")] == 3

    hist = table.history(spark).collect()
    assert [h.snapshot_id for h in hist] == [1, 2, 3]
    assert all(h.timestamp_ms > 0 for h in hist)


def test_manifests_table_resets_at_overwrite(spark, catalog):
    """An overwrite shadows older manifests from the chain walk — the
    .manifests table must show only the reset point onward."""
    table = _make_table(
        spark, catalog, [(1, "a"), (2, "b")], ns=("meta",), name="ow"
    )
    table.append(spark.createDataFrame([(3, "c")], "id long, name string"))
    table.overwrite(spark.createDataFrame([(9, "z")], "id long, name string"))
    table.ops._should_refresh = True
    man = table.manifests(spark).collect()
    assert [(r.snapshot_id, r.operation) for r in man] == [(3, "overwrite")]


def test_mor_delete_then_expire_keeps_needed_delete_files(spark, catalog):
    from pyspark.sql import functions as F

    table = _make_table(
        spark, catalog, [(i, f"n{i}") for i in range(6)], ns=("mor",), name="ex"
    )
    table.delete_where_mor(spark, F.col("id") == 0, equality_cols=["id"])
    table.append(spark.createDataFrame([(6, "six")], "id long, name string"))
    table.expire_snapshots(keep_last=1)
    table.ops._should_refresh = True
    # the tombstoned delete-mor snapshot's key file must still be applied
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 2, 3, 4, 5, 6]


def test_merge_on_read_update(spark, catalog):
    from pyspark.sql import functions as F

    table = _make_table(
        spark, catalog, [(i, f"n{i}") for i in range(8)], ns=("mor",), name="up"
    )
    files_before = {f["path"] for f in table.scan_files()}
    table.update_where_mor(
        spark, F.col("id") < 3, {"name": F.upper(F.col("name"))}, equality_cols=["id"]
    )
    table.ops._should_refresh = True
    got = {r.id: r.name for r in table.read(spark).collect()}
    assert got == {i: (f"n{i}".upper() if i < 3 else f"n{i}") for i in range(8)}
    # original data files untouched; only key file + updated-rows file added
    assert files_before <= {f["path"] for f in table.scan_files()}


def test_type_widening_int_to_long(spark, catalog):
    """Iceberg type promotion: files written with the narrow type read
    back upcast under the widened declared schema; post-widening appends
    store the wide type; illegal narrowing is refused."""
    catalog.create_namespace(("tw",))
    df = spark.createDataFrame([(1, 1.5)], "id int, score float")
    ops = catalog.create_table(("tw",), "t", df.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(df)
    table.widen_column("id", "long")
    table.widen_column("score", "double")
    table.ops._should_refresh = True
    big = spark.createDataFrame([(2**40, 2.5)], "id long, score double")
    table.append(big)
    got = {r.id: r.score for r in table.read(spark).collect()}
    assert got[1] == 1.5 and got[2**40] == 2.5
    assert dict(table.schema().fields[0].jsonValue(), name="id")["type"] == "long"
    with pytest.raises(ValueError):
        table.widen_column("id", "integer")  # narrowing refused


def test_dynamic_partition_overwrite(spark, catalog):
    """Backfill one partition: only the overwritten partition's files are
    replaced; other partitions and time travel are untouched."""
    catalog.create_namespace(("dpo",))
    df = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")],
        "id long, v string, day string",
    )
    ops = catalog.create_table(("dpo",), "t", df.schema.jsonValue(), partition_by=["day"])
    table = RelativeTable(ops)
    table.append(df)
    d2_files = {f["path"] for f in table.scan_files(partition_filter={"day": "d2"})}
    backfill = spark.createDataFrame(
        [(9, "A2", "d1")], "id long, v string, day string"
    )
    table.overwrite_partitions(backfill)
    got = {(r.id, r.v, r.day) for r in table.read(spark).collect()}
    assert got == {(9, "A2", "d1"), (3, "c", "d2")}
    # d2's physical files carried over untouched
    assert {f["path"] for f in table.scan_files(partition_filter={"day": "d2"})} == d2_files
    # pre-backfill snapshot intact
    assert table.read(spark, snapshot_id=1).count() == 3
    # appends continue the chain after a dynamic overwrite
    table.append(spark.createDataFrame([(4, "d", "d3")], "id long, v string, day string"))
    assert table.read(spark).count() == 3
    with pytest.raises(ValueError):
        RelativeTable(catalog.create_table(("dpo",), "u", df.schema.jsonValue())) \
            .overwrite_partitions(df)


def test_partitioned_reads_across_multiple_appends(spark, catalog):
    """Regression: partitioned files from different per-snapshot data
    dirs read in one scan. Spark's partition discovery rejected mixed
    directory structures under one basePath; the read now takes identity
    values from the manifest and discovers nothing from the paths."""
    catalog.create_namespace(("ma",))
    df1 = spark.createDataFrame([(1, "x")], "id long, k string")
    ops = catalog.create_table(("ma",), "t", df1.schema.jsonValue(), partition_by=["k"])
    table = RelativeTable(ops)
    table.append(df1)
    table.append(spark.createDataFrame([(2, "y")], "id long, k string"))
    table.append(spark.createDataFrame([(3, "x")], "id long, k string"))
    got = {(r.id, r.k) for r in table.read(spark).collect()}
    assert got == {(1, "x"), (2, "y"), (3, "x")}
    assert {r.id for r in table.read(spark, partition_filter={"k": "x"}).collect()} == {1, 3}


def test_native_read_is_one_plan_with_sequence_scoped_anti_joins(
    spark, catalog, anti_join_builds
):
    """An identity-partitioned table with appends in several snapshot
    dirs and two MOR equality deletes at different sequences reads as
    ONE plan: one parquet scan, over every data file, and one left-anti
    join per equality key set whose build side is a local relation the
    driver read from the delete files, with no pickled-RDD relation.
    Building a read, pruned or not, starts no Spark job: every schema
    and partition value comes from the manifests. The scoping holds
    inside the plan: a key re-appended after its delete survives."""
    import time
    import uuid
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    from iceberg_relative_io_spark.catalog.scan import _norm_path_py

    catalog.create_namespace(("op",))
    schema = "id long, v string, part int"

    def batch(b):
        return [(b * 100 + i, f"v{i % 5}", i % 4) for i in range(12)]

    ops = catalog.create_table(
        ("op",), "t", spark.createDataFrame([], schema).schema.jsonValue(),
        partition_by=["part"],
    )
    table = RelativeTable(ops)
    rows = []
    for b in range(2):
        table.append(spark.createDataFrame(batch(b), schema))
        rows += batch(b)
    table.delete_where_mor(spark, F.col("id") < 3, ["id"])
    rows = [r for r in rows if r[0] >= 3]
    table.append(spark.createDataFrame(batch(2) + [(1, "back", 1)], schema))
    rows += batch(2) + [(1, "back", 1)]
    table.delete_where_mor(spark, F.col("v") == "v4", ["v"])
    rows = [r for r in rows if r[1] != "v4"]
    table.append(spark.createDataFrame(batch(3) + [(204, "v4", 0)], schema))
    rows += batch(3) + [(204, "v4", 0)]
    table.ops._should_refresh = True

    meta = table.ops.current()
    dels = table._delete_files(meta, meta["current-snapshot-id"])
    assert len({d["_snap"] for d in dels}) == 2
    norm = lambda p: _norm_path_py(table.ops.io.spark_path(p))  # noqa: E731
    data_files = {norm(f["path"]) for f in table.scan_files()}
    assert len(data_files) <= 32
    kinds: dict = {}
    for d in dels:
        kinds.setdefault(tuple(d["equality-cols"]), set()).add(norm(d["path"]))

    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "construct only", False)
    try:
        df = table.read(spark)
        pruned = table.read(spark, partition_filter={"part": 1})
        # a later job that has reached the tracker: so has every earlier one
        sc.setJobGroup(group + "-marker", "marker", False)
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 10
    while not tracker.getJobIdsForGroup(group + "-marker"):
        assert time.monotonic() < deadline
        time.sleep(0.01)
    assert list(tracker.getJobIdsForGroup(group)) == []

    scans = []
    stack = [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
        if node.nodeName().startswith("Scan parquet"):
            files = node.relation().location().inputFiles()
            scans.append({_norm_path_py(unquote(f)) for f in files})
    assert scans == [data_files]
    assert anti_join_builds(df) == [{"LocalTableScan"}] * len(kinds)
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()

    assert sorted(map(tuple, df.collect())) == sorted(rows)
    assert sorted(map(tuple, pruned.collect())) == sorted(r for r in rows if r[2] == 1)


def test_mor_delete_matches_null_keys_in_both_readers(spark, catalog, warehouse):
    """An equality delete whose key tuple holds NULL deletes every row
    whose key IS NULL (the spec's ``id = 4 AND category IS NULL``
    rule), in the native read and the DSv2 ``relative`` read alike. A
    merge afterwards still inserts NULL-key source rows: under the
    merge's SQL equality NULL matches nothing."""
    from pyspark.sql import functions as F

    rows = [(1, "a"), (None, "b"), (None, "c"), (2, "d")]
    table = _make_table(spark, catalog, rows, ns=("nk",), name="t")
    table.delete_where_mor(spark, F.col("name") == "b", ["id"])
    table.ops._should_refresh = True
    want = {(1, "a"), (2, "d")}
    for df in _both_reads(spark, warehouse, table, "nk.t"):
        assert {(r.id, r.name) for r in df.collect()} == want

    source = spark.createDataFrame([(None, "n"), (2, "D")], "id long, name string")
    table.merge(spark, source, ["id"])
    table.ops._should_refresh = True
    want = {(1, "a"), (2, "D"), (None, "n")}
    for df in _both_reads(spark, warehouse, table, "nk.t"):
        assert sorted(map(tuple, df.collect()), key=str) == sorted(want, key=str)


def test_typed_equality_delete_keys_read_alike_in_both_tiers(
    spark, catalog, monkeypatch, typed_keys
):
    """Equality deletes keyed on date, timestamp (year 3000), decimal,
    unicode string, binary, boolean and NULL values, one of them keyed
    on a column renamed between two deletes, read the same rows from
    the driver-built build sides as from the Spark-scan tier (caps
    forced to 0), and both match a NULL-safe model."""
    from pyspark.sql import functions as F

    from iceberg_relative_io_spark.catalog import scan

    catalog.create_namespace(("ty",))
    df = spark.createDataFrame(typed_keys.rows, typed_keys.schema)
    table = RelativeTable(catalog.create_table(("ty",), "t", df.schema.jsonValue()))
    table.append(df)
    cols = df.columns
    want = [tuple(r) for r in df.collect()]
    for keys, ids in typed_keys.deletes:
        table.delete_where_mor(spark, F.col("id").isin(*ids), keys)
        table.ops._should_refresh = True
        want = typed_keys.model(want, cols, keys, ids)
    table.rename_column("s", "s2")
    table.ops._should_refresh = True
    cols = [("s2" if c == "s" else c) for c in cols]
    table.delete_where_mor(spark, F.col("id") == 2, ["dec", "s2"])
    table.ops._should_refresh = True
    want = typed_keys.model(want, cols, ["dec", "s2"], {2})
    # a deleted key re-appended later survives (the sequence column)
    back = [r for r in typed_keys.rows if r[0] == 5]
    table.append(spark.createDataFrame(back, table.read(spark).schema))
    table.ops._should_refresh = True
    want += back

    local = sorted(map(tuple, table.read(spark).collect()), key=repr)
    with monkeypatch.context() as m:
        m.setattr(scan, "_BROADCAST_DELETE_MAX_BYTES", 0)
        m.setattr(scan, "_BROADCAST_DELETE_MAX_ROWS", 0)
        scanned = sorted(map(tuple, table.read(spark).collect()), key=repr)
    assert local == scanned == sorted(want, key=repr)
    assert sorted(r[0] for r in local) == [0, 5, 7, 10, 11]


def test_metadata_gc_runs_parallel_and_keeps_window(tmp_path):
    """Reference parity (deleteRemovedMetadataFiles on a worker pool,
    HadoopRelativeTableOperations.java:400-416): a many-commit run with
    delete-after-commit enabled keeps exactly the configured metadata
    window, the per-file deletes overlap in time (a thread pool, not
    a sequential loop on the commit path), and — round-4 ADVICE — the
    reap is genuinely DEFERRED: commit returns before the slow deletes
    finish; drain_metadata_gc() makes them observable."""
    import threading
    import time as _time

    from iceberg_relative_io_spark.catalog.fileio import RelativeFileIO
    from iceberg_relative_io_spark.catalog.table_ops import (
        TableOperations,
        new_table_metadata,
    )

    fsio = RelativeFileIO(str(tmp_path / "gcwh"))
    ops = TableOperations(fsio, "ns/t")
    meta = new_table_metadata("ns/t", {"fields": [{"name": "x", "type": "long"}]})
    meta["properties"] = {
        "write.metadata.delete-after-commit.enabled": "true",
        "write.metadata.previous-versions-max": "3",
    }
    import json

    fsio.write_bytes("ns/t/metadata/v1.metadata.json", json.dumps(meta).encode())

    # instrument delete_file to observe overlap
    state = {"active": 0, "peak": 0, "n": 0}
    lock = threading.Lock()
    real_delete = fsio.delete_file

    def slow_delete(loc):
        with lock:
            state["active"] += 1
            state["peak"] = max(state["peak"], state["active"])
        _time.sleep(0.05)
        try:
            real_delete(loc)
        finally:
            with lock:
                state["active"] -= 1
                state["n"] += 1

    fsio.delete_file = slow_delete

    # ten commits with GC off accumulate history; the final commit turns
    # GC on, so one _gc_old_metadata call has a whole backlog to reap —
    # the shape that exposes whether deletes overlap
    v = 1
    for i in range(11):
        m = dict(ops.current())
        m["properties"] = {}
        m["commit-i"] = i
        v = ops.commit(v, m)
    m = dict(ops.current())
    m["properties"] = meta["properties"]
    m["commit-i"] = "final"
    v = ops.commit(v, m)
    # deferred: each delete sleeps 50ms, so if commit had awaited the
    # reap, all ~9 deletes would be done by now — instead the commit
    # returned with the backlog still in flight
    deletes_done_at_return = state["n"]

    from iceberg_relative_io_spark.catalog.table_ops import drain_metadata_gc

    drain_metadata_gc()
    assert deletes_done_at_return < state["n"], (
        f"commit awaited the reap ({deletes_done_at_return} deletes "
        "already finished when commit returned)"
    )

    # window: only the last 3 metadata versions survive
    survivors = sorted(
        fi.location for fi in fsio.list_prefix("ns/t/metadata")
        if fi.location.endswith(".metadata.json")
    )
    assert f"ns/t/metadata/v{v}.metadata.json" in survivors
    assert len(survivors) <= 4  # window (3) + off-by-one probe guard
    for n in range(1, 10):
        assert f"ns/t/metadata/v{n}.metadata.json" not in survivors
    # the reaper actually deleted files, and deletes overlapped
    assert state["n"] >= 8
    assert state["peak"] >= 2, f"GC deletes never overlapped: {state}"


def test_rewrite_manifests_collapses_chain_without_moving_data(spark, tmp_path):
    """Manifest compaction is metadata-only: after N appends the live
    file set is reconstructed by an N-step chain walk; rewrite_manifests
    commits one 'replace' snapshot re-listing the same files (same
    paths, same row set, zero data movement), old snapshots still
    time-travel, and the post-rewrite walk is one step."""
    from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable

    cat = FsCatalog(str(tmp_path / "rm_wh"))
    cat.create_namespace(("ns",))
    df0 = spark.createDataFrame([(0, "z")], "id long, name string")
    table = RelativeTable(cat.create_table(("ns",), "t", df0.schema.jsonValue()))
    for i in range(5):
        table.append(spark.createDataFrame([(i, chr(97 + i))], "id long, name string"))
    meta = table.ops.current()
    snap_before = table._resolve_snapshot(meta, None, None)
    files_before = sorted(f["path"] for f in table._data_files(meta, snap_before))
    assert len(meta["snapshots"]) == 5

    result = table.rewrite_manifests()
    meta2 = table.ops.current()
    snap_after = table._resolve_snapshot(meta2, None, None)
    entry = table._snapshot_entry(meta2, snap_after)
    assert entry["operation"] == "replace"
    files_after = sorted(f["path"] for f in table._data_files(meta2, snap_after))
    assert files_after == files_before  # zero data movement, same paths
    assert sorted(r.id for r in table.read(spark).collect()) == list(range(5))
    # old snapshot still time-travels through its own chain
    assert sorted(
        r.id for r in table.read(spark, snapshot_id=snap_before).collect()
    ) == list(range(5))
    # the walk after the rewrite is one step: a replace resets the chain
    assert result["snapshot-id"] == snap_after


def test_rewrite_manifests_preserves_mor_deletes(spark, catalog):
    """Round-4 ADVICE (high): a metadata-only 'replace' must carry live
    equality-delete files with their ORIGINAL sequence numbers persisted
    (``seq``), or MOR-deleted rows resurrect because the replace resets
    the chain walk that would have found the delete-mor manifests."""
    from pyspark.sql import functions as F

    table = _make_table(
        spark, catalog, [(i, f"n{i}") for i in range(5)], ns=("mor",), name="rm"
    )
    table.delete_where_mor(spark, F.col("id") == 2, equality_cols=["id"])
    table.ops._should_refresh = True
    assert sorted(r.id for r in table.read(spark).collect()) == [0, 1, 3, 4]

    table.rewrite_manifests()
    table.ops._should_refresh = True
    # the deleted row must NOT resurrect (the reproduced round-4 bug)
    assert sorted(r.id for r in table.read(spark).collect()) == [0, 1, 3, 4]

    # re-insert AFTER the rewrite: the carried delete scopes to strictly
    # older sequence numbers, so the new row survives
    table.append(spark.createDataFrame([(2, "reborn")], "id long, name string"))
    got = {r.id: r.name for r in table.read(spark).collect()}
    assert got[2] == "reborn" and sorted(got) == [0, 1, 2, 3, 4]

    # a second rewrite chains seq inheritance (carry of a carry)
    table.rewrite_manifests()
    table.ops._should_refresh = True
    assert {r.id: r.name for r in table.read(spark).collect()} == got

    # orphan sweep never reaps the carried delete file
    assert table.remove_orphan_files() == []
    assert {r.id: r.name for r in table.read(spark).collect()} == got

    # a NEW delete after the rewrite applies to carried data files
    table.delete_where_mor(spark, F.col("id") == 0, equality_cols=["id"])
    table.ops._should_refresh = True
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 2, 3, 4]


def test_migrate_bucket_hash_era_pruning_and_time_travel(spark, catalog):
    """migrate_bucket_hash is metadata-only: after the flip, point
    reads prune legacy-era files with the xxhash64 mirror and new-era
    files with the spec murmur3 — both eras prune, neither wrongly
    skips — and pre-migration snapshots still time-travel."""
    import json as _json

    from pyspark.sql import types as T

    from iceberg_relative_io_spark.catalog.bucket_hash import (
        bucket_value,
        legacy_bucket_value,
    )

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(60)], "id long, v string"
    )
    ops = catalog.create_table(
        ("hp",), "mig_b", df.schema.jsonValue(), partition_by=["bucket(4, id)"]
    )
    meta = _json.loads(_json.dumps(ops.current()))
    del meta["bucket-hash"]  # age to the pre-switch dialect
    ops.commit(ops.current_version(), meta)
    ops.refresh()
    table = RelativeTable(ops)
    table.append(df)
    pre_snap = ops.current()["current-snapshot-id"]

    with pytest.raises(ValueError, match="no bucket"):
        ops2 = catalog.create_table(
            ("hp",), "mig_none", df.schema.jsonValue()
        )
        RelativeTable(ops2).migrate_bucket_hash()

    info = table.migrate_bucket_hash()
    assert info["bucket-hash"] == "murmur3"
    assert ops.current()["bucket-hash-migration-snap"] == pre_snap
    with pytest.raises(ValueError, match="already"):
        table.migrate_bucket_hash()

    # post-migration appends lay out with the spec murmur3
    df2 = spark.createDataFrame(
        [(1000 + i, f"n{i}") for i in range(60)], "id long, v string"
    )
    table.append(df2)
    files = table.scan_files()
    new_files = [f for f in files if f["_snap"] > pre_snap]
    assert new_files
    want_new = str(bucket_value(1007, 4))
    hit = [
        f for f in new_files
        if any(
            r.id == 1007
            for r in spark.read.parquet(
                table.ops.io.spark_path(f["path"])
            ).select("id").collect()
        )
    ]
    assert hit and all(f["partition"]["id_bucket"] == want_new for f in hit)

    # era-aware pruning: a legacy-era point read prunes by xxhash64...
    want_leg = str(legacy_bucket_value(7, 4, T.LongType()))
    legacy_pruned = table.scan_files(column_ranges={"id": (7, 7)})
    legacy_era = [f for f in legacy_pruned if f["_snap"] <= pre_snap]
    assert legacy_era
    assert {f["partition"]["id_bucket"] for f in legacy_era} == {want_leg}
    # ...and a new-era point read prunes by murmur3
    new_pruned = table.scan_files(column_ranges={"id": (1007, 1007)})
    new_era = [f for f in new_pruned if f["_snap"] > pre_snap]
    assert new_era
    assert {f["partition"]["id_bucket"] for f in new_era} == {want_new}
    assert len(new_pruned) < len(files)

    # correctness: both eras' point reads return exactly their row
    got = table.read(spark, column_ranges={"id": (7, 7)}).filter("id = 7")
    assert got.count() == 1
    got2 = table.read(
        spark, column_ranges={"id": (1007, 1007)}
    ).filter("id = 1007")
    assert got2.count() == 1
    assert table.read(spark).count() == 120

    # pre-migration snapshot still time-travels, with legacy pruning
    old = table.read(spark, snapshot_id=pre_snap)
    assert old.count() == 60
    old_pruned = table.scan_files(
        snapshot_id=pre_snap, column_ranges={"id": (7, 7)}
    )
    assert {f["partition"]["id_bucket"] for f in old_pruned} == {want_leg}


# -- write.target-file-size-bytes (round 7): manifest-fed file-size cap --------

def test_target_file_size_caps_output_files(spark, tmp_path):
    """With write.target-file-size-bytes set, appends after the first
    are capped near the target via the table's OWN measured bytes/row
    (maxRecordsPerFile under the hood); the first write (no history)
    proceeds uncapped, and unsetting the property removes the cap."""
    cat = FsCatalog(str(tmp_path / "wh"))
    cat.create_namespace(("ns",))
    df = spark.range(2000).selectExpr(
        "id", "CAST(id AS STRING) AS s", "id * 1.5 AS v"
    ).coalesce(1)
    ops = cat.create_table(("ns",), "t", df.schema.jsonValue())
    table = RelativeTable(ops)

    # first write: no history -> uncapped; coalesce(1) -> one file
    table.append(df)
    meta = table.ops.current()
    files1 = table._data_files(meta, meta["current-snapshot-id"])
    assert len(files1) == 1 and files1[0]["row-count"] == 2000
    bpr = table._bytes_per_row_estimate()
    assert bpr and bpr > 0

    # target ~ 250 rows worth of bytes -> a 1000-row append must split
    # into ~4 files of <= cap rows each
    target = int(bpr * 250)
    table.set_properties({"write.target-file-size-bytes": str(target)})
    df2 = spark.range(2000, 3000).selectExpr(
        "id", "CAST(id AS STRING) AS s", "id * 1.5 AS v"
    ).coalesce(1)
    table.append(df2)
    meta = table.ops.current()
    new_files = [
        f
        for f in table._data_files(meta, meta["current-snapshot-id"])
        if f["path"] not in {x["path"] for x in files1}
    ]
    cap = max(1, int(target / bpr))
    assert len(new_files) >= 3, [f["row-count"] for f in new_files]
    assert all(f["row-count"] <= cap for f in new_files)
    assert sum(f["row-count"] for f in new_files) == 1000
    # file sizes actually land near the target (within 2x either way —
    # parquet framing overhead dominates at this tiny scale)
    assert all(f["size-bytes"] < target * 2 for f in new_files)

    # unset -> next append is uncapped again
    table.unset_properties(["write.target-file-size-bytes"])
    df3 = spark.range(3000, 4000).selectExpr(
        "id", "CAST(id AS STRING) AS s", "id * 1.5 AS v"
    ).coalesce(1)
    before = {f["path"] for f in table._data_files(meta, meta["current-snapshot-id"])} | {
        x["path"] for x in files1
    }
    table.append(df3)
    meta = table.ops.current()
    last = [
        f
        for f in table._data_files(meta, meta["current-snapshot-id"])
        if f["path"] not in before
    ]
    assert len(last) == 1 and last[0]["row-count"] == 1000


def test_target_file_size_composes_with_partition_layout(spark, tmp_path):
    """The cap applies per task x partition-dir: a partitioned append
    with the property set still lands hive-style files, each under the
    row cap."""
    cat = FsCatalog(str(tmp_path / "wh2"))
    cat.create_namespace(("ns",))
    df = spark.range(1200).selectExpr("id", "CAST(id % 2 AS INT) AS part")
    ops = cat.create_table(
        ("ns",), "tp", df.schema.jsonValue(), partition_by=["part"]
    )
    table = RelativeTable(ops)
    table.append(df)
    bpr = table._bytes_per_row_estimate()
    table.set_properties(
        {"write.target-file-size-bytes": str(int(bpr * 100))}
    )
    table.append(
        spark.range(1200, 2400).selectExpr("id", "CAST(id % 2 AS INT) AS part")
    )
    meta = table.ops.current()
    files = table._data_files(meta, meta["current-snapshot-id"])
    new = [f for f in files if f.get("row-count", 0) <= 1000 and "part=" in f["path"]]
    assert new  # hive layout preserved
    # every capped-era file respects the cap
    cap = max(1, int(int(bpr * 100) / bpr))
    second_era = [f for f in files if f["row-count"] <= cap]
    assert sum(f["row-count"] for f in second_era) >= 1200
    # read-back exactness: the cap is layout-only
    assert table.read(spark).count() == 2400


def test_decimal_column_stats_widen_never_wrong_skip(spark, tmp_path):
    """DECIMAL footer stats can't ride JSON as-is; they are stored as
    floats widened OUTWARD one ulp per bound, so a stats-pruned scan by
    the decimal column may admit an extra file but can never skip a
    live row (an unwidened float bound rounding inward would)."""
    from decimal import Decimal

    cat = FsCatalog(str(tmp_path / "whd"))
    cat.create_namespace(("ns",))
    df = spark.createDataFrame(
        [(i, Decimal(f"{i}.{i % 10}1")) for i in range(100)],
        "id long, amt decimal(20,2)",
    ).coalesce(1)
    ops = cat.create_table(("ns",), "td", df.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(df)  # would TypeError on commit before the fix
    meta = table.ops.current()
    [entry] = table._data_files(meta, meta["current-snapshot-id"])
    lo, hi = entry["min"]["amt"], entry["max"]["amt"]
    assert isinstance(lo, float) and isinstance(hi, float)
    assert lo <= 0.01 and hi >= 99.91  # widened outward, never inward
    # a range scan keyed on the decimal column keeps the file
    kept = table.scan_files(column_ranges={"amt": (50, 50)})
    assert len(kept) == 1
    # and one strictly outside the widened range prunes it
    assert table.scan_files(column_ranges={"amt": (500, 600)}) == []


# -- native-format changelog (round 7): CDC diff with file cancellation -------

def _cl_table(spark, tmp_path, name="cl"):
    cat = FsCatalog(str(tmp_path / f"wh_{name}"))
    cat.create_namespace(("ns",))
    df = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(40)], "id long, grp int, v double"
    ).repartition(3)
    ops = cat.create_table(("ns",), name, df.schema.jsonValue())
    t = RelativeTable(ops)
    t.append(df)
    return t


def test_native_changelog_cancels_unchanged_files(spark, tmp_path):
    t = _cl_table(spark, tmp_path)
    meta = t.ops.current()
    s1 = meta["current-snapshot-id"]
    t.append(
        spark.createDataFrame(
            [(100, 0, 1.0)], "id long, grp int, v double"
        ).coalesce(1)
    )
    meta = t.ops.current()
    old_e, new_e, cancelled, _, _ = t._changelog_plan(
        meta, s1, meta["current-snapshot-id"]
    )
    assert old_e == [] and len(new_e) == 1 and len(cancelled) >= 1
    rows = [(r.id, r._change_type, r._n) for r in t.changelog(spark, s1).collect()]
    assert rows == [(100, "INSERT", 1)]


def test_native_changelog_mor_delete_and_update_pair(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _cl_table(spark, tmp_path, "cl2")
    s1 = t.ops.current()["current-snapshot-id"]
    t.delete_where_mor(spark, F.col("id") == 7, ["id"])
    t.update_where_mor(
        spark, F.col("id") == 9, {"v": F.lit(99.0)}, ["id"]
    )
    got = {(r.id, r.v, r._change_type) for r in t.changelog(spark, s1).collect()}
    assert got == {
        (7, 7.0, "DELETE"),
        (9, 9.0, "DELETE"),
        (9, 99.0, "INSERT"),
    }


def test_native_changelog_maintenance_invisible(spark, tmp_path):
    t = _cl_table(spark, tmp_path, "cl3")
    s1 = t.ops.current()["current-snapshot-id"]
    t.rewrite_manifests()
    assert t.changelog(spark, s1).count() == 0
    t.compact(spark)
    # compact rewrites every (file) but values are unchanged -> the
    # plan can't cancel (new paths), the DIFF is still empty
    assert t.changelog(spark, s1).count() == 0


def test_native_changelog_rejects_unknown_snapshot(spark, tmp_path):
    t = _cl_table(spark, tmp_path, "cl4")
    with pytest.raises(ValueError, match="no snapshot"):
        t.changelog(spark, 424242)


def test_migrate_bucket_hash_era_covers_branch_snapshots(spark, catalog):
    """Snapshot ids are a global max+1 counter, so a BRANCH append can
    sit above main's head while still being legacy-hashed; the
    migration era point must be the max snapshot id, or branch reads
    would prune those files with the wrong hash (review round 7)."""
    import json as _json

    from pyspark.sql import types as T

    from iceberg_relative_io_spark.catalog.bucket_hash import (
        legacy_bucket_value,
    )

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "id long, v string"
    )
    ops = catalog.create_table(
        ("hp",), "mig_br", df.schema.jsonValue(), partition_by=["bucket(4, id)"]
    )
    meta = _json.loads(_json.dumps(ops.current()))
    del meta["bucket-hash"]  # age to the pre-switch dialect
    ops.commit(ops.current_version(), meta)
    ops.refresh()
    table = RelativeTable(ops)
    table.append(df)
    main_head = ops.current()["current-snapshot-id"]
    # branch append AFTER main's head: higher snapshot id, legacy layout
    table.create_branch("audit")
    table.append(
        spark.createDataFrame([(500, "b0")], "id long, v string"),
        branch="audit",
    )
    branch_sid = ops.current()["refs"]["audit"]
    if isinstance(branch_sid, dict):
        branch_sid = branch_sid.get("snapshot-id", branch_sid)
    assert branch_sid > main_head

    table.migrate_bucket_hash()
    era = ops.current()["bucket-hash-migration-snap"]
    assert era >= branch_sid  # the branch snapshot is inside the era

    # the branch's point read prunes with the LEGACY mirror and finds
    # its row — anchoring the era on main's head would murmur3-hash it
    got = table.read(spark, branch="audit", column_ranges={"id": (500, 500)})
    assert [r.id for r in got.filter("id = 500").collect()] == [500]
    want_leg = str(legacy_bucket_value(500, 4, T.LongType()))
    pruned = table.scan_files(
        snapshot_id=branch_sid, column_ranges={"id": (500, 500)}
    )
    branch_files = [f for f in pruned if f["_snap"] == branch_sid]
    assert branch_files
    assert {f["partition"]["id_bucket"] for f in branch_files} == {want_leg}


def test_metadata_gc_keep_semantics_and_keep_zero(spark, catalog):
    """previous-versions-max=N keeps exactly the newest N previous
    metadata files; keep=0 deletes all previous but NEVER the
    just-committed one (the old off-by-one included it, letting the
    async reaper brick the table)."""
    from iceberg_relative_io_spark.catalog.table_ops import drain_metadata_gc

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    ops = catalog.create_table(
        ("gcns",), "t", df.schema.jsonValue(),
        properties={
            "write.metadata.delete-after-commit.enabled": "true",
            "write.metadata.previous-versions-max": "2",
        },
    )
    table = RelativeTable(ops)
    for i in range(5):
        table.append(spark.createDataFrame([(i, "x")], "id long, v string"))
    drain_metadata_gc()
    present = sorted(
        int(fi.location.rsplit("/v", 1)[-1].split(".")[0])
        for fi in ops.io.list_prefix(ops.metadata_dir)
        if ".metadata.json" in fi.location and ".tmp" not in fi.location
    )
    head = ops.current_version()
    # newest 2 previous + current survive
    assert present == [head - 2, head - 1, head]

    ops2 = catalog.create_table(
        ("gcns",), "t0", df.schema.jsonValue(),
        properties={
            "write.metadata.delete-after-commit.enabled": "true",
            "write.metadata.previous-versions-max": "0",
        },
    )
    t2 = RelativeTable(ops2)
    t2.append(df)
    t2.append(df)
    drain_metadata_gc()
    head2 = ops2.current_version()
    left = [
        fi.location
        for fi in ops2.io.list_prefix(ops2.metadata_dir)
        if ".metadata.json" in fi.location and ".tmp" not in fi.location
    ]
    assert len(left) == 1 and f"v{head2}." in left[0]
    ops2.refresh()  # the table must still resolve
    assert t2.read(spark).count() == 2


def test_fs_path_handles_single_slash_file_uri(tmp_path):
    """'file:/tmp/x' (Hadoop's single-slash rendering) is treated as
    absolute by paths.is_absolute, so the IO layer must strip it too."""
    from iceberg_relative_io_spark.catalog.fileio import RelativeFileIO

    wh = str(tmp_path / "wh")
    io = RelativeFileIO(wh)
    io.write_bytes("t/a.txt", b"hi")
    single = "file:" + wh + "/t/a.txt"
    assert io.exists(single)
    assert io.read_bytes(single) == b"hi"


@pytest.mark.parametrize("db_driver", ["sqlite", "duckdb"])
def test_jdbc_namespace_exists_nested_and_like_escaping(tmp_path, db_driver):
    """exists() must agree with list_namespaces(): the parent of an
    explicitly created nested namespace exists; and namespaces with
    LIKE wildcards in their name ('a_c') must not match unrelated rows
    ('abc/...')."""
    import os

    wh = str(tmp_path / f"jwh_{db_driver}")
    os.makedirs(wh)
    cat = JdbcCatalog(str(tmp_path / f"cat_{db_driver}.db"), wh, driver=db_driver)
    cat.create_namespace(("a", "b"))
    assert cat.namespace_exists(("a", "b"))
    assert cat.namespace_exists(("a",))  # implicit parent of explicit child
    assert ("a",) in cat.list_namespaces(())
    # underscore is a LIKE wildcard: 'a_c' must not match tables in 'abc'
    cat.create_namespace(("abc",))
    schema = {"type": "struct", "fields": []}
    cat.create_table(("abc",), "t", schema)
    assert not cat.namespace_exists(("a_c",))


@pytest.mark.parametrize("db_driver", ["sqlite", "duckdb"])
def test_jdbc_rename_view_onto_existing_raises_cleanly(tmp_path, db_driver):
    """Renaming a view onto an existing table/view name must raise the
    same clean ValueError contract as rename_table — not a raw
    driver-specific IntegrityError from the primary-key violation."""
    import os

    wh = str(tmp_path / f"jwhv_{db_driver}")
    os.makedirs(wh)
    cat = JdbcCatalog(str(tmp_path / f"catv_{db_driver}.db"), wh, driver=db_driver)
    cat.create_namespace(("db1",))
    cat.create_view(("db1",), "v1", "SELECT 1 AS one")
    cat.create_view(("db1",), "v2", "SELECT 2 AS two")
    with pytest.raises(ValueError, match="already exists"):
        cat.rename_view(("db1",), "v1", ("db1",), "v2")
    # and the original views are untouched
    assert sorted(cat.list_views(("db1",))) == ["v1", "v2"]


@pytest.mark.parametrize("db_driver", ["sqlite", "duckdb"])
def test_jdbc_pool_reuses_connections(tmp_path, db_driver):
    """Round-8 (reference JdbcClientPool, JdbcRelativeCatalog.java:100-104,
    460-464): poolable drivers lease ONE held connection per transaction
    and return it — repeated catalog ops reuse the same DB connection
    instead of reconnecting per statement — and close() drains the pool,
    making later ops raise. duckdb pools since round 9 (a cold file
    connect costs ~15ms; per-statement reconnects were the measured
    b04_sql_views bench regression)."""
    import os

    wh = str(tmp_path / f"pool_wh_{db_driver}")
    os.makedirs(wh)
    cat = JdbcCatalog(
        str(tmp_path / f"pool_{db_driver}.db"), wh, driver=db_driver
    )
    cat.create_namespace(("p",))
    with cat._conn() as con_a:
        pass
    with cat._conn() as con_b:
        pass
    assert con_a is con_b  # leased back from the pool, not reconnected
    assert cat.list_namespaces() == [("p",)]
    assert len(cat._pool) == 1
    cat.close()
    assert cat._pool == []
    with pytest.raises(ValueError, match="closed"):
        cat.list_namespaces()
    cat.close()  # idempotent


@pytest.mark.parametrize("db_driver", ["sqlite", "duckdb"])
def test_jdbc_pool_rolls_back_failed_txn(tmp_path, db_driver):
    """A transaction that raises must roll back before the connection
    returns to the pool — the next lease must not observe its writes.
    (duckdb is autocommit by default; the pool's begin() hook opens the
    explicit transaction that makes this rollback real.)"""
    import os

    wh = str(tmp_path / f"rb_wh_{db_driver}")
    os.makedirs(wh)
    cat = JdbcCatalog(str(tmp_path / f"rb_{db_driver}.db"), wh, driver=db_driver)
    with pytest.raises(RuntimeError):
        with cat._conn() as con:
            con.execute(
                "INSERT INTO iceberg_namespace_properties VALUES "
                "('jdbc','ghost','exists','true')"
            )
            raise RuntimeError("abort txn")
    assert cat.namespace_exists(("ghost",)) is False


@pytest.mark.parametrize("db_driver", ["sqlite", "duckdb"])
def test_jdbc_catalog_context_manager(tmp_path, db_driver):
    """`with JdbcCatalog(...)` tears the pool down on exit (reference
    close()): pooled connections (both drivers pool since round 9)
    close, and later leases raise."""
    import os

    wh = str(tmp_path / f"cm_wh_{db_driver}")
    os.makedirs(wh)
    with JdbcCatalog(str(tmp_path / f"cm_{db_driver}.db"), wh, driver=db_driver) as cat:
        cat.create_namespace(("c",))
        assert cat.namespace_exists(("c",))
    assert cat._closed and cat._pool == []
    with pytest.raises(ValueError, match="closed"):
        cat.namespace_exists(("c",))


def test_jdbc_pool_discards_connection_when_commit_fails(tmp_path):
    """Review finding (round 8): if end_txn itself raises (e.g. sqlite
    'database is locked' on commit), the connection may hold an open
    half-applied transaction — pooling it would let the NEXT lease
    commit this op's writes along with its own. The failed-end
    connection must be closed, never pooled."""
    import os

    wh = str(tmp_path / "poison_wh")
    os.makedirs(wh)
    cat = JdbcCatalog(str(tmp_path / "poison.db"), wh, driver="sqlite")
    cat.create_namespace(("p",))
    assert len(cat._pool) == 1

    orig = cat._driver.end_txn
    state = {"fail_next_commit": True}

    def flaky_end_txn(con, ok):
        if ok and state["fail_next_commit"]:
            state["fail_next_commit"] = False
            raise RuntimeError("simulated commit failure (database is locked)")
        return orig(con, ok)

    cat._driver.end_txn = flaky_end_txn
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated commit failure"):
        with cat._conn() as con:
            con.execute(
                "INSERT INTO iceberg_namespace_properties VALUES "
                "('jdbc','ghost','exists','true')"
            )
    cat._driver.end_txn = orig
    assert cat._pool == []  # the poisoned connection was closed, not pooled
    # a later lease (fresh connection) must not see the failed write
    assert cat.namespace_exists(("ghost",)) is False
    assert cat.namespace_exists(("p",))  # catalog still functional


@pytest.mark.parametrize("db_driver", ["sqlite", "duckdb"])
def test_jdbc_pool_concurrency_stress(tmp_path, db_driver):
    """Round-9 (server-grade pool proof): 8 threads hammer ONE
    JdbcCatalog instance — private namespace/table CRUD churn plus
    barrier-synchronized CAS commit races on one shared table, every
    thread racing from the SAME base pointer each round. Invariants:
    exactly one CAS winner per round (losers fail via the changes()!=1
    CommitFailedError or the engine's optimistic-concurrency conflict —
    duckdb surfaces those at COMMIT, which exercises the
    failed-end-connections-are-closed-not-pooled rule under real
    contention); the final pointer is the last winner's write; the idle
    pool stays bounded by _POOL_MAX; the catalog serves consistent
    reads afterwards."""
    import os
    import threading

    wh = str(tmp_path / f"stress_wh_{db_driver}")
    os.makedirs(wh)
    cat = JdbcCatalog(
        str(tmp_path / f"stress_{db_driver}.db"), wh, driver=db_driver
    )
    schema = {"type": "struct", "fields": []}
    cat.create_namespace(("race",))
    cat.create_table(("race",), "shared", schema)

    n_threads, rounds = 8, 5
    read_barrier = threading.Barrier(n_threads)
    go_barrier = threading.Barrier(n_threads)
    done_barrier = threading.Barrier(n_threads)
    wins: list[tuple[int, int]] = []
    wins_lock = threading.Lock()
    hard_errors: list[Exception] = []

    def worker(t: int) -> None:
        try:
            # private CRUD churn (no cross-thread conflicts): exercises
            # concurrent leases on independent rows
            cat.create_namespace((f"ns{t}",))
            for r in range(rounds):
                cat.create_table((f"ns{t}",), f"t{r}", schema)
                assert cat.table_exists((f"ns{t}",), f"t{r}")
            assert sorted(cat.list_tables((f"ns{t}",))) == sorted(
                f"t{r}" for r in range(rounds)
            )
            for r in range(rounds):
                read_barrier.wait()
                ops = cat.new_table_ops(("race",), "shared")
                base = ops._pointer()
                meta = ops.current()
                meta.setdefault("properties", {})["race-marker"] = f"{t}:{r}"
                go_barrier.wait()  # everyone read the SAME base
                try:
                    ops.commit(base, meta)
                    with wins_lock:
                        wins.append((r, t))
                except CommitFailedError:
                    pass
                except Exception as err:
                    # optimistic-concurrency loss (duckdb raises its
                    # TransactionException at COMMIT time)
                    if "conflict" not in str(err).lower() and "write-write" not in str(err).lower():
                        raise
                done_barrier.wait()
        except Exception as err:  # pragma: no cover - diagnostic path
            hard_errors.append(err)
            # unblock peers so the test fails with THIS error, not a hang
            for b in (read_barrier, go_barrier, done_barrier):
                b.abort()

    threads = [
        threading.Thread(target=worker, args=(t,)) for t in range(n_threads)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    assert not hard_errors, hard_errors
    assert not any(th.is_alive() for th in threads)
    # exactly one winner per round
    by_round: dict[int, list[int]] = {}
    for r, t in wins:
        by_round.setdefault(r, []).append(t)
    assert sorted(by_round) == list(range(rounds))
    assert all(len(ts) == 1 for ts in by_round.values()), by_round
    # final pointer reflects the LAST round's single winner
    final = cat.new_table_ops(("race",), "shared").current()
    last_winner = by_round[rounds - 1][0]
    assert final["properties"]["race-marker"] == f"{last_winner}:{rounds - 1}"
    # idle pool bounded; catalog still consistent
    assert len(cat._pool) <= cat._POOL_MAX
    assert cat.table_exists(("race",), "shared")
    for t in range(n_threads):
        assert len(cat.list_tables((f"ns{t}",))) == rounds
    cat.close()


def test_jdbc_pool_amortizes_server_handshake(tmp_path):
    """Why the pool exists (reference JdbcClientPool,
    JdbcRelativeCatalog.java:80-104): against a server RDBMS the
    TCP+auth handshake is paid per CONNECT, not per statement. An
    injected fake-server driver (sqlite semantics, counted connects)
    runs a 30-op single-threaded catalog workload: the pool must reuse
    ONE leased connection throughout — connect count stays 1, not one
    per transaction."""
    import os

    from iceberg_relative_io_spark.catalog.jdbc_catalog import SqliteDriver

    class FakeServerDriver(SqliteDriver):
        name = "fakeserver"
        connects = 0

        def connect(self, db_path):
            type(self).connects += 1
            return super().connect(db_path)

    wh = str(tmp_path / "srv_wh")
    os.makedirs(wh)
    cat = JdbcCatalog(
        str(tmp_path / "srv.db"), wh, driver=FakeServerDriver()
    )
    schema = {"type": "struct", "fields": []}
    cat.create_namespace(("s",))
    for i in range(10):
        cat.create_table(("s",), f"t{i}", schema)
        assert cat.table_exists(("s",), f"t{i}")
        assert f"t{i}" in cat.list_tables(("s",))
    assert FakeServerDriver.connects == 1, FakeServerDriver.connects
    cat.close()


def test_jdbc_pool_revalidates_stale_lease(tmp_path):
    """Round-10 advice: a pooled connection can die between leases (a
    server RDBMS drops idle sessions). The reference's JdbcClientPool
    re-validates on lease; our _PooledTxn must mirror that — when
    begin() raises on a connection that came FROM THE POOL, discard it
    and retry once on a fresh connect instead of failing the catalog
    op. A FIRST-connect begin() failure (real outage) still propagates."""
    import os

    from iceberg_relative_io_spark.catalog.jdbc_catalog import SqliteDriver

    class _ConnProxy:
        """sqlite3.Connection forbids new attributes; delegate through a
        proxy that can carry the dead flag."""

        def __init__(self, con):
            self._con = con
            self._dead = False

        def __getattr__(self, name):
            return getattr(self._con, name)

    class DroppingServerDriver(SqliteDriver):
        """sqlite semantics + explicit begin; the test marks pooled
        connections dead to simulate a server-side idle disconnect."""

        name = "droppingserver"
        connects = 0

        def connect(self, db_path):
            type(self).connects += 1
            return _ConnProxy(super().connect(db_path))

        @staticmethod
        def begin(con) -> None:
            if con._dead:
                raise ConnectionError("server closed idle connection")

    wh = str(tmp_path / "drop_wh")
    os.makedirs(wh)
    cat = JdbcCatalog(
        str(tmp_path / "drop.db"), wh, driver=DroppingServerDriver()
    )
    schema = {"type": "struct", "fields": []}
    cat.create_namespace(("s",))
    # kill the idle pooled connection(s), then run another op: the stale
    # lease must be replaced transparently
    for con in cat._pool:
        con._dead = True
    cat.create_table(("s",), "t0", schema)
    assert cat.table_exists(("s",), "t0")
    for con in cat._pool:
        con._dead = True
    assert cat.list_tables(("s",)) == ["t0"]
    # reconnects happened (>=2 connects total), no op ever failed
    assert DroppingServerDriver.connects >= 2
    cat.close()

    # a catalog whose FIRST connect can't begin() must still fail loudly
    class AlwaysDeadDriver(DroppingServerDriver):
        name = "alwaysdead"

        @staticmethod
        def begin(con) -> None:
            raise ConnectionError("server unreachable")

    import pytest as _pytest

    wh2 = str(tmp_path / "dead_wh")
    os.makedirs(wh2)
    with _pytest.raises(ConnectionError):
        JdbcCatalog(str(tmp_path / "dead.db"), wh2, driver=AlwaysDeadDriver())
