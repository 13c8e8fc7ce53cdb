"""Python DataSource integration: spark.read/write/readStream over the
relative-path format (the PySpark-native analogue of the reference's
SparkCatalog plugin wiring, reference README.md:8-11)."""

import tempfile
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable
from iceberg_relative_io_spark.sources.relative_datasource import (
    RelativeBatchReader,
    RelativeDataSource,
)


@pytest.fixture()
def wh(spark):
    spark.dataSource.register(RelativeDataSource)
    return tempfile.mkdtemp(prefix="dswh_")


def _make_table(spark, wh, name="t", partition_by=None, rows=None):
    cat = FsCatalog(wh)
    if ("ns",) not in cat.list_namespaces():
        cat.create_namespace(("ns",))
    df = spark.createDataFrame(
        rows or [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")],
        "id long, data string, kind string",
    )
    ops = cat.create_table(("ns",), name, df.schema.jsonValue(), partition_by=partition_by)
    table = RelativeTable(ops)
    table.append(df)
    return table


def test_batch_read_matches_table_read(spark, wh):
    table = _make_table(spark, wh)
    df = (
        spark.read.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.t")
        .load()
    )
    assert sorted(df.collect()) == sorted(table.read(spark).collect())


def test_batch_read_time_travel(spark, wh):
    table = _make_table(spark, wh)
    table.append(spark.createDataFrame([(9, "z", "q")], table.schema()))
    v1 = (
        spark.read.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.t")
        .option("snapshot_id", "1")
        .load()
    )
    assert v1.count() == 3


def test_partitioned_read_attaches_partition_column(spark, wh):
    _make_table(spark, wh, name="p", partition_by=["kind"])
    df = (
        spark.read.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.p")
        .load()
    )
    rows = {(r.id, r.kind) for r in df.collect()}
    assert rows == {(1, "x"), (2, "y"), (3, "x")}


def test_read_pruning_every_file_returns_no_rows(spark, wh):
    """A filter on an absent partition value prunes every file, so
    partitions() plans nothing and Spark hands read() None: the read is
    empty, not a crash."""
    _make_table(spark, wh, name="pz", partition_by=["kind"])
    df = (
        spark.read.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.pz")
        .load()
        .where(F.col("kind") == "absent")
    )
    assert df.count() == 0
    assert df.collect() == []


def test_push_filters_prune_files(spark, wh):
    """Two appends with disjoint id ranges -> a pushed id filter must plan
    strictly fewer file partitions, and results stay exact."""
    from pyspark.sql.datasource import GreaterThan

    table = _make_table(spark, wh, name="pf")
    table.append(
        spark.createDataFrame([(100, "h", "z"), (101, "i", "z")], table.schema())
    )
    opts = {"warehouse": wh, "table": "ns.pf"}
    reader = RelativeBatchReader(opts, table.schema())
    all_parts = reader.partitions()

    reader2 = RelativeBatchReader(opts, table.schema())
    returned = list(reader2.pushFilters([GreaterThan(("id",), 50)]))
    assert len(returned) == 1  # every filter handed back for row-level apply
    pruned = reader2.partitions()
    assert 0 < len(pruned) < len(all_parts)

    df = (
        spark.read.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.pf")
        .load()
        .filter(F.col("id") > 50)
    )
    assert {r.id for r in df.collect()} == {100, 101}


def test_write_append_through_datasource(spark, wh):
    table = _make_table(spark, wh, name="w")
    extra = spark.createDataFrame([(7, "g", "w"), (8, "h", "w")], table.schema())
    (
        extra.write.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.w")
        .mode("append")
        .save()
    )
    # metadata is cached lazily (reference semantics): re-load to observe
    # the externally-committed snapshot
    fresh = RelativeTable(FsCatalog(wh).load_table(("ns",), "w"))
    assert fresh.read(spark).count() == 5
    snaps = fresh.snapshots(spark).collect()
    assert [s.operation for s in snaps] == ["append", "append"]
    # commit recorded footer stats for the new files
    files = fresh.scan_files()
    assert all("row-count" in f for f in files)


def test_write_overwrite_through_datasource(spark, wh):
    table = _make_table(spark, wh, name="ow")
    repl = spark.createDataFrame([(42, "only", "r")], table.schema())
    (
        repl.write.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.ow")
        .mode("overwrite")
        .save()
    )
    fresh = RelativeTable(FsCatalog(wh).load_table(("ns",), "ow"))
    assert [r.id for r in fresh.read(spark).collect()] == [42]


def test_stream_tails_snapshots(spark, wh):
    table = _make_table(spark, wh, name="s")
    stream = (
        spark.readStream.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.s")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("tail_sink")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_ds_"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("tail_sink").count() == 3
        table.append(spark.createDataFrame([(10, "j", "n")], table.schema()))
        q.processAllAvailable()
        assert spark.table("tail_sink").count() == 4
    finally:
        q.stop()


def test_stream_write_table_to_table(spark, wh):
    """The format on both ends of a stream: tail table A's snapshots and
    sink each micro-batch as an append snapshot into table B."""
    table_a = _make_table(spark, wh, name="src_t")
    cat = FsCatalog(wh)
    ops_b = cat.create_table(("ns",), "dst_t", table_a.schema().jsonValue())
    stream = (
        spark.readStream.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.src_t")
        .load()
    )
    q = (
        stream.writeStream.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.dst_t")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_dsw_"))
        .start()
    )
    try:
        q.processAllAvailable()
        table_a.append(spark.createDataFrame([(10, "j", "n")], table_a.schema()))
        q.processAllAvailable()
    finally:
        q.stop()
    fresh_b = RelativeTable(FsCatalog(wh).load_table(("ns",), "dst_t"))
    assert {r.id for r in fresh_b.read(spark).collect()} == {1, 2, 3, 10}
    summaries = [s["summary"] for s in fresh_b.ops.current()["snapshots"]]
    assert all("stream-batch-id" in s for s in summaries)


def test_datasource_reads_across_schema_evolution(spark, wh):
    """Files written before a rename must resolve by column id through the
    Python DataSource, exactly like the native read path."""
    table = _make_table(spark, wh, name="ev")
    table.rename_column("data", "label")
    table.ops._should_refresh = True
    table.append(
        spark.createDataFrame([(9, "post", "z")], "id long, label string, kind string")
    )
    df = (
        spark.read.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.ev")
        .load()
    )
    rows = {(r.id, r.label) for r in df.collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "c"), (9, "post")}


def test_incremental_read_and_append_only_guard(spark, wh):
    table = _make_table(spark, wh, name="cdc")
    table.append(spark.createDataFrame([(4, "d", "z")], table.schema()))
    inc = table.incremental_read(spark, 1)
    assert [r.id for r in inc.collect()] == [4]
    assert table.incremental_read(spark, 2).count() == 0
    table.delete_where(spark, F.col("id") == 1)
    with pytest.raises(ValueError, match="append-only"):
        table.incremental_files(1)


def test_datasource_partitioned_write(spark, tmp_path):
    """The 'relative' writer lays out identity partition specs hive-style
    and records partition tuples, so manifest pruning works on the
    written table."""
    from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable
    from iceberg_relative_io_spark.sources.relative_datasource import RelativeDataSource

    spark.dataSource.register(RelativeDataSource)
    wh = str(tmp_path / "wh")
    cat = FsCatalog(wh)
    cat.create_namespace(("ds",))
    df = spark.createDataFrame(
        [(1, "click"), (2, "view"), (3, "click")], "id long, kind string"
    )
    cat.create_table(("ds",), "ev", df.schema.jsonValue(), partition_by=["kind"])
    (
        df.write.format("relative")
        .option("warehouse", wh)
        .option("table", "ds.ev")
        .mode("append")
        .save()
    )
    table = RelativeTable(cat.load_table(("ds",), "ev"))
    files = table.scan_files(partition_filter={"kind": "click"})
    assert files and all(f["partition"] == {"kind": "click"} for f in files)
    got = {(r.id, r.kind) for r in table.read(spark).collect()}
    assert got == {(1, "click"), (2, "view"), (3, "click")}
    back = (
        spark.read.format("relative")
        .option("warehouse", wh)
        .option("table", "ds.ev")
        .load()
    )
    assert {(r.id, r.kind) for r in back.collect()} == got


def test_stream_writer_partitioned(spark, tmp_path):
    """writeStream into an identity-partitioned relative table: each
    micro-batch commits hive-laid-out files with partition tuples."""
    import tempfile as tf

    from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable
    from iceberg_relative_io_spark.sources.relative_datasource import RelativeDataSource

    spark.dataSource.register(RelativeDataSource)
    wh = str(tmp_path / "wh")
    cat = FsCatalog(wh)
    cat.create_namespace(("ds",))
    df = spark.createDataFrame(
        [(1, "click"), (2, "view"), (3, "click")], "id long, kind string"
    )
    cat.create_table(("ds",), "sink", df.schema.jsonValue(), partition_by=["kind"])
    src = tf.mkdtemp(prefix="stream_src_")
    df.write.mode("overwrite").parquet(src)
    q = (
        spark.readStream.schema("id long, kind string").parquet(src)
        .writeStream.format("relative")
        .option("warehouse", wh)
        .option("table", "ds.sink")
        .option("checkpointLocation", tf.mkdtemp(prefix="ckpt_"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    table = RelativeTable(cat.load_table(("ds",), "sink"))
    files = table.scan_files(partition_filter={"kind": "view"})
    assert files and all(f["partition"] == {"kind": "view"} for f in files)
    got = {(r.id, r.kind) for r in table.read(spark).collect()}
    assert got == {(1, "click"), (2, "view"), (3, "click")}


# ---------------------------------------------------------------------------
# round 7: streaming SOURCE over the Iceberg mirror (iceberg_mirror_source)
# ---------------------------------------------------------------------------


def _mirror(spark, rows, schema="id long, v string"):
    from iceberg_relative_io_spark.catalog import iceberg_export

    wh = tempfile.mkdtemp(prefix="mirror_src_wh_")
    cat = FsCatalog(wh)
    cat.create_namespace(("ns",))
    df = spark.createDataFrame(rows, schema)
    ops = cat.create_table(("ns",), "m", df.schema.jsonValue())
    t = RelativeTable(ops)
    t.append(df)
    dest = tempfile.mkdtemp(prefix="mirror_src_")
    iceberg_export.export_iceberg(t, dest)
    return dest


def _reader(dest, **opts):
    from iceberg_relative_io_spark.sources.iceberg_mirror_source import (
        IcebergMirrorDataSource,
    )

    src = IcebergMirrorDataSource(options={"path": dest, **opts})
    return src.streamReader(src.schema())


def _advance(r, start):
    """Drive one micro-batch through the partition-planning API the way
    the engine does: latestOffset -> partitions(start, end) -> per-file
    executor reads. Returns (rows_as_tuples, end_offset)."""
    end = r.latestOffset()
    rows = _replay(r, start, end)
    return rows, end


def _replay(r, start, end):
    names = [f.name for f in r.schema.fields]
    return [
        tuple(row[n] for n in names)
        for p in r.partitions(start, end)
        for b in r.read(p)
        for row in b.to_pylist()
    ]


def test_mirror_tail_emits_each_era_once(spark):
    from iceberg_relative_io_spark.catalog import iceberg_export

    dest = _mirror(spark, [(1, "a"), (2, "b")])
    r = _reader(dest)
    rows, off = _advance(r, r.initialOffset())
    assert sorted(rows) == [(1, "a"), (2, "b")]
    # caught up: same offset, nothing planned
    rows2, off2 = _advance(r, off)
    assert rows2 == [] and off2 == off
    # a new append era arrives exactly once
    iceberg_export.append_iceberg(
        spark, dest, spark.createDataFrame([(3, "c")], "id long, v string")
    )
    rows3, off3 = _advance(r, off)
    assert rows3 == [(3, "c")]
    assert off3["max_seq"] > off["max_seq"] and off3["last_sid"] != off["last_sid"]
    # replay (partitions over the same recorded window) reproduces the batch
    assert _replay(r, off, off3) == [(3, "c")]


def test_mirror_tail_plans_one_partition_per_file(spark):
    """Round-8: the mirror tail is partition-planning — a micro-batch
    over a multi-file append plans one InputPartition per added data
    file and executors open the parquet; no row rides the driver."""
    from iceberg_relative_io_spark.catalog import iceberg_export

    dest = _mirror(spark, [(0, "seed")])
    r = _reader(dest)
    _, off = _advance(r, r.initialOffset())
    big = spark.range(1, 2001).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    iceberg_export.append_iceberg(spark, dest, big.repartition(6))
    end = r.latestOffset()
    parts = r.partitions(off, end)
    assert len(parts) > 1  # one per added file, not one blob
    total = sum(b.num_rows for p in parts for b in r.read(p))
    assert total == 2000


def test_mirror_tail_replace_is_invisible(spark):
    from iceberg_relative_io_spark.catalog import iceberg_export

    dest = _mirror(spark, [(1, "a")])
    r = _reader(dest)
    _, off = _advance(r, r.initialOffset())
    iceberg_export.rewrite_manifests_iceberg(dest)
    rows, off2 = _advance(r, off)
    assert rows == []
    # consumed (anchor moved to the replace snapshot), emitted nothing
    assert off2["last_sid"] != off["last_sid"]
    # and the NEXT append still arrives exactly once after the replace
    iceberg_export.append_iceberg(
        spark, dest, spark.createDataFrame([(2, "b")], "id long, v string")
    )
    rows3, off3 = _advance(r, off2)
    assert rows3 == [(2, "b")]
    assert _advance(r, off3)[0] == []


def test_mirror_tail_delete_raises_unless_skipped(spark):
    import pytest as _pytest

    from iceberg_relative_io_spark.catalog import iceberg_export

    dest = _mirror(spark, [(1, "a"), (2, "b")])
    r = _reader(dest)
    _, off = _advance(r, r.initialOffset())
    iceberg_export.delete_where_iceberg(spark, dest, F.col("id") == 1, ["id"])
    with _pytest.raises(ValueError, match="append tail cannot represent"):
        _advance(r, off)
    rows, off2 = _advance(_reader(dest, **{"skip-deletes": "true"}), off)
    assert rows == [] and off2["last_sid"] != off["last_sid"]


def test_mirror_tail_rollback_does_not_reemit(spark):
    from iceberg_relative_io_spark.catalog import iceberg_export

    dest = _mirror(spark, [(1, "a")])
    doc = iceberg_export._load_metadata(dest)
    s1 = doc["current-snapshot-id"]
    r = _reader(dest)
    _, off0 = _advance(r, r.initialOffset())
    iceberg_export.append_iceberg(
        spark, dest, spark.createDataFrame([(2, "b")], "id long, v string")
    )
    rows, off1 = _advance(r, off0)
    assert rows == [(2, "b")]
    # metadata-only rollback to s1: the log gains an entry pointing at
    # the OLD snapshot — already-consumed sequences must not re-emit
    # (latestOffset's last-sequence-number watermark is monotone
    # through rollbacks, so the window stays empty)
    iceberg_export.rollback_iceberg(dest, s1)
    rows2, off2 = _advance(r, off1)
    assert rows2 == []
    # an append AFTER the rollback takes a fresh sequence and flows
    iceberg_export.append_iceberg(
        spark, dest, spark.createDataFrame([(9, "z")], "id long, v string")
    )
    rows3, off3 = _advance(r, off2)
    assert rows3 == [(9, "z")]
    # PHANTOM guard (round-7 review): an append committed but rolled
    # back BEFORE consumption is not reachable table content and must
    # never emit — only post-rollback appends do
    doc = iceberg_export._load_metadata(dest)
    head_before = doc["current-snapshot-id"]
    iceberg_export.append_iceberg(
        spark, dest, spark.createDataFrame([(66, "ghost")], "id long, v string")
    )
    iceberg_export.rollback_iceberg(dest, head_before)  # abandon it unseen
    iceberg_export.append_iceberg(
        spark, dest, spark.createDataFrame([(77, "real")], "id long, v string")
    )
    rows4, _ = _advance(r, off3)
    assert rows4 == [(77, "real")]  # the ghost row never surfaces


def test_mirror_tail_rollback_then_fast_forward_no_reemit(spark):
    """Round-8 regression pin for the new watermark: rows consumed
    BEFORE a rollback must not re-emit when a fast-forward makes their
    snapshot reachable again (latestOffset advertises the table-global
    last-sequence-number, which never regresses)."""
    from iceberg_relative_io_spark.catalog import iceberg_export

    dest = _mirror(spark, [(1, "a")])
    doc = iceberg_export._load_metadata(dest)
    s1 = doc["current-snapshot-id"]
    r = _reader(dest)
    _, off0 = _advance(r, r.initialOffset())
    iceberg_export.append_iceberg(
        spark, dest, spark.createDataFrame([(2, "b")], "id long, v string")
    )
    doc = iceberg_export._load_metadata(dest)
    s2 = doc["current-snapshot-id"]
    rows, off1 = _advance(r, off0)
    assert rows == [(2, "b")]  # s2 consumed
    iceberg_export.rollback_iceberg(dest, s1)
    rows2, off2 = _advance(r, off1)
    assert rows2 == []
    iceberg_export.rollback_iceberg(dest, s2)  # fast-forward back
    rows3, off3 = _advance(r, off2)
    assert rows3 == []  # exactly-once: s2 was already consumed
    iceberg_export.append_iceberg(
        spark, dest, spark.createDataFrame([(3, "c")], "id long, v string")
    )
    assert _advance(r, off3)[0] == [(3, "c")]


def test_mirror_tail_streams_partitioned_spec(spark):
    """Round-8: identity-partitioned mirrors stream — the identity
    source values live in the manifest partition tuple (not the data
    files) and each planned partition carries the decoded constants."""
    from iceberg_relative_io_spark.catalog import iceberg_export

    wh = tempfile.mkdtemp(prefix="mirror_src_wh_")
    cat = FsCatalog(wh)
    cat.create_namespace(("ns",))
    df = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1), (3, "c", 0)], "id long, v string, p int"
    )
    ops = cat.create_table(
        ("ns",), "mp", df.schema.jsonValue(), partition_by=["p"]
    )
    t = RelativeTable(ops)
    t.append(df)
    dest = tempfile.mkdtemp(prefix="mirror_src_")
    iceberg_export.export_iceberg(t, dest)
    r = _reader(dest)
    rows, off = _advance(r, r.initialOffset())
    assert sorted(rows) == [(1, "a", 0), (2, "b", 1), (3, "c", 0)]
    # incremental appends to the partitioned mirror keep flowing
    iceberg_export.append_iceberg(
        spark,
        dest,
        spark.createDataFrame([(4, "d", 7)], "id long, v string, p int"),
    )
    rows2, _ = _advance(r, off)
    assert rows2 == [(4, "d", 7)]


def test_mirror_tail_survives_log_trimming_by_expiry(spark):
    """Offsets are a sequence watermark + snapshot anchor, NOT a log
    position: expire_snapshots_iceberg trims snapshot-log entries, and
    a positional offset would silently misalign — either reporting
    'caught up' forever or skipping appends (the round-7 review
    finding). With the watermark, appends after the trim emit exactly
    once; a reaped ANCHOR is a loud restart error, never silence."""
    import pytest as _pytest

    from iceberg_relative_io_spark.catalog import iceberg_export

    dest = _mirror(spark, [(1, "a")])
    r = _reader(dest)
    _, off0 = _advance(r, r.initialOffset())
    # build history: three appends, consume them
    for i in range(2, 5):
        iceberg_export.append_iceberg(
            spark,
            dest,
            spark.createDataFrame([(i, f"v{i}")], "id long, v string"),
        )
    rows, off1 = _advance(r, off0)
    assert sorted(rows) == [(2, "v2"), (3, "v3"), (4, "v4")]
    # expiry trims the log below the head — the anchor (head) survives
    iceberg_export.expire_snapshots_iceberg(dest, keep_last=1)
    doc = iceberg_export._load_metadata(dest)
    assert len(doc.get("snapshot-log", [])) < 4
    # post-trim append: emitted exactly once, nothing re-emitted
    iceberg_export.append_iceberg(
        spark, dest, spark.createDataFrame([(9, "z")], "id long, v string")
    )
    rows2, off2 = _advance(r, off1)
    assert rows2 == [(9, "z")]
    assert _advance(r, off2)[0] == []  # caught up
    # a reaped anchor raises the documented restart error
    stale = {"last_sid": 424242, "max_seq": 0}
    iceberg_export.append_iceberg(
        spark, dest, spark.createDataFrame([(10, "y")], "id long, v string")
    )
    with _pytest.raises(ValueError, match="restart the stream"):
        _advance(r, stale)



def test_batch_read_applies_mor_deletes(spark, wh):
    """spark.read.format('relative') must agree with RelativeTable.read
    after a merge-on-read delete — the planner now ships each file's
    applicable equality-delete files (strictly-newer sequence) and the
    reader anti-joins them (deleted rows used to RESURRECT)."""
    table = _make_table(spark, wh, name="mor")
    table.delete_where_mor(spark, F.col("id") == 2, ["id"])
    got = sorted(
        r.id
        for r in spark.read.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.mor")
        .load()
        .collect()
    )
    want = sorted(r.id for r in table.read(spark).collect())
    assert got == want and 2 not in got
    # a re-appended key survives (strictly-newer sequence: delete skips it)
    table.append(
        spark.createDataFrame([(2, "reborn", "x")], table.read(spark).schema)
    )
    got2 = sorted(
        r.id
        for r in spark.read.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.mor")
        .load()
        .collect()
    )
    assert got2 == sorted(r.id for r in table.read(spark).collect())
    assert 2 in got2


def test_dsv2_writer_keeps_null_partition_rows(spark, wh):
    """Rows with NULL identity-partition values were silently dropped
    (equal(NULL, x) is NULL and Table.filter drops NULL-mask rows);
    they now land under the hive sentinel and read back as NULL."""
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "b")], "id long, kind string"
    )
    cat = FsCatalog(wh)
    if ("ns",) not in cat.list_namespaces():
        cat.create_namespace(("ns",))
    cat.create_table(("ns",), "np", df.schema.jsonValue(), partition_by=["kind"])
    (
        df.write.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.np")
        .mode("append")
        .save()
    )
    got = {
        (r.id, r.kind)
        for r in spark.read.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.np")
        .load()
        .collect()
    }
    assert got == {(1, "a"), (2, None), (3, None), (4, "b")}
    # the native read path agrees
    t = RelativeTable(cat.load_table(("ns",), "np"))
    assert {(r.id, r.kind) for r in t.read(spark).collect()} == got


def test_identity_values_read_from_manifest(spark, wh):
    """Both readers take identity partition values from the manifest,
    never from directory names: after a DSv2 write, a value Spark's
    hive-dir discovery would unescape ("a%41b" read as "aAb"), one
    holding "=", one with a space, and NULL all read back unchanged."""
    values = ["a%41b", "x=y", "a b", None]
    df = spark.createDataFrame(list(enumerate(values)), "id long, k string")
    cat = FsCatalog(wh)
    if ("ns",) not in cat.list_namespaces():
        cat.create_namespace(("ns",))
    cat.create_table(("ns",), "esc", df.schema.jsonValue(), partition_by=["k"])
    (
        df.write.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.esc")
        .mode("append")
        .save()
    )
    t = RelativeTable(cat.load_table(("ns",), "esc"))
    assert {f["partition"]["k"] for f in t.scan_files()} == {
        "a%41b", "x=y", "a b", "__HIVE_DEFAULT_PARTITION__"
    }
    want = set(enumerate(values))
    dsv2 = (
        spark.read.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.esc")
        .load()
    )
    for df in (dsv2, t.read(spark)):
        assert {(r.id, r.k) for r in df.collect()} == want


def test_dsv2_writer_escapes_partition_segments(spark, wh):
    """The DSv2 writer escapes each partition directory segment as Spark
    does: a "/" no longer nests directories and a "%" survives the
    re-parse. The manifest keeps the raw value, parsing each written
    path gives it back, and both readers return every row."""
    values = ["a/b", "x=y", "50%", "12:00"]
    df = spark.createDataFrame(list(enumerate(values)), "id long, k string")
    cat = FsCatalog(wh)
    if ("ns",) not in cat.list_namespaces():
        cat.create_namespace(("ns",))
    cat.create_table(("ns",), "seg", df.schema.jsonValue(), partition_by=["k"])
    (
        df.write.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.seg")
        .mode("append")
        .save()
    )
    t = RelativeTable(cat.load_table(("ns",), "seg"))
    files = t.scan_files()
    assert sorted(f["partition"]["k"] for f in files) == sorted(values)
    for f in files:
        assert RelativeTable._partition_values(f["path"]) == f["partition"]
    want = set(enumerate(values))
    dsv2 = (
        spark.read.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.seg")
        .load()
    )
    for read in (dsv2, t.read(spark)):
        assert {(r.id, r.k) for r in read.collect()} == want


@pytest.mark.parametrize("sink", ["batch", "stream"])
def test_dsv2_written_files_survive_rename(spark, wh, sink):
    """Both DSv2 sinks record the table's column ids on every entry they
    commit, so a column renamed after the write still reads its values
    through both readers (without the ids it read NULL)."""
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    cat = FsCatalog(wh)
    if ("ns",) not in cat.list_namespaces():
        cat.create_namespace(("ns",))
    name = f"rn_{sink}"
    cat.create_table(("ns",), name, df.schema.jsonValue())
    if sink == "batch":
        (
            df.write.format("relative")
            .option("warehouse", wh)
            .option("table", f"ns.{name}")
            .mode("append")
            .save()
        )
    else:
        src = RelativeTable(cat.create_table(("ns",), f"{name}_src", df.schema.jsonValue()))
        src.append(df)
        q = (
            spark.readStream.format("relative")
            .option("warehouse", wh)
            .option("table", f"ns.{name}_src")
            .load()
            .writeStream.format("relative")
            .option("warehouse", wh)
            .option("table", f"ns.{name}")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_rn_"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    t = RelativeTable(cat.load_table(("ns",), name))
    assert all("column-ids" in f for f in t.scan_files())
    t.rename_column("name", "label")
    dsv2 = (
        spark.read.format("relative")
        .option("warehouse", wh)
        .option("table", f"ns.{name}")
        .load()
    )
    for read in (t.read(spark), dsv2):
        assert [tuple(r) for r in read.select("id", "label").collect()] == [(1, "a")]


@pytest.mark.parametrize(
    "ddl, values",
    [
        ("p boolean", [True, False, True]),
        (
            "p timestamp",
            [
                datetime(2024, 1, 1, 0, 0, 0),
                datetime(2024, 1, 1, 0, 0, 0),
                datetime(2024, 5, 6, 7, 8, 9, 123456),
            ],
        ),
        ("p double", [1.0, 2.0, 2.5, float("nan"), float("nan"), float("-inf")]),
    ],
    ids=["boolean", "timestamp", "double"],
)
def test_dsv2_writer_typed_partition_values_round_trip(spark, wh, ddl, values):
    """The writer picks each partition's rows by typed equality. It
    used to compare a string cast of the column with str(v), which
    disagree for booleans ('true' / 'True'), timestamps and whole-valued
    doubles ('1' / '1.0'), and those rows were silently dropped. NaN
    rows, which equal nothing, make one partition, and NaN and infinite
    partition values are written as Spark parses them. Values compare
    as strings so NaN compares equal to itself."""
    name = "tp_" + ddl.split()[1]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], f"id long, {ddl}"
    )
    cat = FsCatalog(wh)
    if ("ns",) not in cat.list_namespaces():
        cat.create_namespace(("ns",))
    cat.create_table(("ns",), name, df.schema.jsonValue(), partition_by=["p"])
    (
        df.write.format("relative")
        .option("warehouse", wh)
        .option("table", f"ns.{name}")
        .mode("append")
        .save()
    )
    want = sorted((r.id, str(r.p)) for r in df.collect())
    got = sorted(
        (r.id, str(r.p))
        for r in spark.read.format("relative")
        .option("warehouse", wh)
        .option("table", f"ns.{name}")
        .load()
        .collect()
    )
    assert got == want
    t = RelativeTable(cat.load_table(("ns",), name))
    assert sorted((r.id, str(r.p)) for r in t.read(spark).collect()) == want


def test_stream_sink_dedup_scoped_to_checkpoint(spark, wh):
    """Batch ids are per-checkpoint (every query starts at 0): the sink
    dedup is scoped to the checkpoint identity, so a second query's
    batch 0 is not swallowed as a 'replay' of the first query's."""
    from iceberg_relative_io_spark.sources.relative_datasource import (
        RelativeStreamWriter,
    )

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    cat = FsCatalog(wh)
    if ("ns",) not in cat.list_namespaces():
        cat.create_namespace(("ns",))
    ops = cat.create_table(("ns",), "sq", df.schema.jsonValue())

    def writer(ckpt):
        return RelativeStreamWriter(
            {"warehouse": wh, "table": "ns.sq", "checkpointLocation": ckpt},
            df.schema,
            False,
        )

    import pyarrow as pa

    def batch(i):
        return pa.record_batch(
            {"id": pa.array([i], pa.int64()), "v": pa.array(["x"], pa.string())}
        )

    w1, w2 = writer("/tmp/ckpt-A"), writer("/tmp/ckpt-B")
    def n_snaps():
        ops.refresh()  # the handle caches metadata between commits
        return len(ops.current()["snapshots"])

    m1 = w1.write(iter([batch(1)]))
    w1.commit([m1], 0)
    n1 = n_snaps()
    m2 = w2.write(iter([batch(2)]))
    w2.commit([m2], 0)  # second QUERY, same batch id: must land
    assert n_snaps() == n1 + 1
    w1.commit([m1], 0)  # genuine replay of query 1 batch 0: deduped
    assert n_snaps() == n1 + 1
    t = RelativeTable(ops)
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]


def test_stream_plans_one_partition_per_file(spark, wh):
    """Round-8: the stream reader is partition-planning
    (DataSourceStreamReader) — a micro-batch over a multi-file append
    plans one InputPartition per added file, read executor-side through
    the same per-file path as the batch reader; no row rides the
    driver."""
    from iceberg_relative_io_spark.sources.relative_datasource import (
        RelativeStreamReader,
    )

    cat = FsCatalog(wh)
    if ("ns",) not in cat.list_namespaces():
        cat.create_namespace(("ns",))
    df = spark.range(0, 4000).select(
        F.col("id"), F.concat(F.lit("d"), F.col("id")).alias("data"),
        F.lit("k").alias("kind"),
    )
    ops = cat.create_table(("ns",), "bulk", df.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(df.repartition(8))  # multi-file snapshot

    r = RelativeStreamReader({"warehouse": wh, "table": "ns.bulk"}, df.schema)
    start, end = r.initialOffset(), r.latestOffset()
    parts = r.partitions(start, end)
    assert len(parts) == len(table.scan_files()) > 1
    total = sum(
        sum(b.num_rows for b in r.read(p)) for p in parts
    )
    assert total == 4000
    # caught up: the empty window plans no partitions
    assert r.partitions(end, end) == []


def test_stream_tails_partitioned_table(spark, wh):
    """Round-8: identity-partitioned tables stream (the refusal is
    lifted) — the manifest tuple rides each planned partition and the
    shared per-file read re-attaches the hive constants, exactly like
    the batch reader."""
    _make_table(spark, wh, name="ps", partition_by=["kind"])
    stream = (
        spark.readStream.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.ps")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("part_tail_sink")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_pt_"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.id, r.kind) for r in spark.table("part_tail_sink").collect()
        }
        assert got == {(1, "x"), (2, "y"), (3, "x")}
        t = RelativeTable(FsCatalog(wh).load_table(("ns",), "ps"))
        t.append(
            spark.createDataFrame([(7, "g", None)], "id long, data string, kind string")
        )
        q.processAllAvailable()
        got = {
            (r.id, r.kind) for r in spark.table("part_tail_sink").collect()
        }
        # NULL partition rows round-trip through the hive sentinel
        assert got == {(1, "x"), (2, "y"), (3, "x"), (7, None)}
    finally:
        q.stop()


def test_stream_max_files_per_trigger_caps_batches(spark, wh):
    """Round-8 admission control: with max-files-per-trigger set, a
    backlogged tail carves catch-up into snapshot-granular windows whose
    cumulative added-data-files fit the budget — never one giant batch."""
    from iceberg_relative_io_spark.sources.relative_datasource import (
        RelativeStreamReader,
    )

    cat = FsCatalog(wh)
    if ("ns",) not in cat.list_namespaces():
        cat.create_namespace(("ns",))
    df = spark.range(0, 900).select(
        F.col("id"), F.lit("d").alias("data"), F.lit("k").alias("kind")
    )
    ops = cat.create_table(("ns",), "bp", df.schema.jsonValue())
    table = RelativeTable(ops)
    for k, nfiles in enumerate((4, 2, 3)):  # 3-snapshot, 9-file backlog
        table.append(df.filter(F.col("id") % 3 == k).repartition(nfiles))

    opts = {"warehouse": wh, "table": "ns.bp", "max-files-per-trigger": "4"}
    r = RelativeStreamReader(opts, df.schema)
    pos = r.initialOffset()
    windows = []
    while True:
        end = r.latestOffset()
        if end == pos:
            break
        parts = r.partitions(pos, end)
        windows.append(len(parts))
        r.commit(end)
        pos = end
    # budget 4: snap1 (4 files) fills a window; snap2 (2) + snap3 (3 > 2
    # left) split; every window fits the cap and the union is complete
    assert windows == [4, 2, 3]

    # oversized commit still advances (>=1 snapshot floor, no stall)
    table.append(df.repartition(6))
    r2 = RelativeStreamReader(
        {"warehouse": wh, "table": "ns.bp", "max-files-per-trigger": "1"},
        df.schema,
    )
    r2._pos = pos["snapshot_id"]  # simulate mid-stream position
    end = r2.latestOffset()
    assert len(r2.partitions(pos, end)) == 6

    # uncapped reader: one window covers the whole backlog
    r3 = RelativeStreamReader({"warehouse": wh, "table": "ns.bp"}, df.schema)
    assert len(r3.partitions(r3.initialOffset(), r3.latestOffset())) == 15


def test_stream_cap_engine_end_to_end(spark, wh):
    """The cap through the real engine, in the scenario it exists for:
    a RUNNING tail falls behind a 3x2-file backlog and catches up in
    >=3 bounded micro-batches (the first planned window after reader
    construction is uncapped by design — the Python DataSource API
    passes latestOffset no start position, so capping it would not be
    restart-safe; see RelativeStreamReader docstring)."""
    cat = FsCatalog(wh)
    if ("ns",) not in cat.list_namespaces():
        cat.create_namespace(("ns",))
    df = spark.createDataFrame(
        [(i, f"d{i}", "k") for i in range(12)], "id long, data string, kind string"
    )
    ops = cat.create_table(("ns",), "bpe", df.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(df.filter(F.col("id") < 3).repartition(1))  # seed

    stream = (
        spark.readStream.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.bpe")
        .option("max-files-per-trigger", "2")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("bpe_sink")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_bpe_"))
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1: the seed (uncapped window)
        for k in range(3):  # the tail falls behind a 6-file backlog
            table.append(
                df.filter((F.col("id") >= 3) & (F.col("id") % 3 == k)).repartition(2)
            )
        q.processAllAvailable()  # catch-up: capped at 2 files/batch
        fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(fed) >= 4, (
            f"seed + >=3 capped catch-up batches expected, got {len(fed)}"
        )
        assert sorted(r.id for r in spark.table("bpe_sink").collect()) == list(
            range(12)
        )
    finally:
        q.stop()


def test_mirror_stream_max_files_per_trigger(spark):
    """Round-8 admission control on the mirror tail: the sequence
    watermark advances snapshot-by-snapshot within the file budget;
    replace snapshots ride along at zero cost; the capped union equals
    the uncapped read."""
    from iceberg_relative_io_spark.catalog import iceberg_export
    from iceberg_relative_io_spark.sources.iceberg_mirror_source import (
        IcebergMirrorStreamReader,
    )

    wh = tempfile.mkdtemp(prefix="mirror_bp_wh_")
    cat = FsCatalog(wh)
    cat.create_namespace(("ns",))
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(30)], "id long, v string"
    )
    ops = cat.create_table(("ns",), "m", df.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(df.filter(F.col("id") < 10).repartition(1))
    dest = tempfile.mkdtemp(prefix="mirror_bp_")
    iceberg_export.export_iceberg(table, dest)  # era 1: 1 file
    iceberg_export.append_iceberg(
        spark, dest, df.filter((F.col("id") >= 10) & (F.col("id") < 20)).repartition(2)
    )
    iceberg_export.rewrite_manifests_iceberg(dest)  # replace: zero cost
    iceberg_export.append_iceberg(
        spark, dest, df.filter(F.col("id") >= 20).repartition(2)
    )

    r = IcebergMirrorStreamReader(
        {"path": dest, "max-files-per-trigger": "2"}, df.schema
    )
    pos = r.initialOffset()
    windows, got, offsets = [], [], [pos]
    while True:
        end = r.latestOffset()
        if end == pos:
            break
        parts = r.partitions(pos, end)
        windows.append(len(parts))
        for p in parts:
            for b in r.read(p):
                got.extend(b.column("id").to_pylist())
        r.commit(end)
        pos = end
        offsets.append(end)
    # budget 2: era1 (1 file) + era2 (2 > 1 left) split; era2 fills a
    # window; the replace rides along with era3 at zero file cost
    assert windows == [1, 2, 2]
    assert sorted(got) == list(range(30))

    # restart simulation: a NEW reader (fresh process, no state) replays
    # the checkpointed batch via partitions(start, end) — that call
    # teaches the admission-control base, so the NEXT advertised offset
    # is capped relative to the replayed position, not uncapped-to-head
    r2 = IcebergMirrorStreamReader(
        {"path": dest, "max-files-per-trigger": "2"}, df.schema
    )
    assert len(r2.partitions(offsets[0], offsets[1])) == 1  # replay era1
    assert r2.latestOffset() == offsets[2]  # capped continuation


def test_mirror_stream_cap_totals_only_era(spark):
    """Round-9 fix: mirrors exported before added-data-files landed
    carry only CUMULATIVE total-data-files in their summaries. The
    admission cost of such a snapshot is the totals DELTA vs its
    parent, not the raw total — a raw-total cost over-charges every
    snapshot after the first (era2 would cost 3 not 2, era3 5 not 2)
    and degrades catch-up to one snapshot per trigger on old mirrors."""
    import json
    import os

    from iceberg_relative_io_spark.catalog import iceberg_export
    from iceberg_relative_io_spark.catalog.iceberg_export import (
        _current_version,
    )
    from iceberg_relative_io_spark.sources.iceberg_mirror_source import (
        IcebergMirrorStreamReader,
    )

    wh = tempfile.mkdtemp(prefix="mirror_tot_wh_")
    cat = FsCatalog(wh)
    cat.create_namespace(("ns",))
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(30)], "id long, v string"
    )
    ops = cat.create_table(("ns",), "mt", df.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(df.filter(F.col("id") < 10).repartition(1))
    dest = tempfile.mkdtemp(prefix="mirror_tot_")
    iceberg_export.export_iceberg(table, dest)  # era 1: 1 file
    for lo in (10, 15, 20, 25):  # eras 2-5: 1 file each
        iceberg_export.append_iceberg(
            spark, dest,
            df.filter(
                (F.col("id") >= lo) & (F.col("id") < lo + 5)
            ).repartition(1),
        )

    # age the metadata into the totals-only era: strip added-data-files,
    # keep a cumulative total-data-files per append snapshot
    meta = os.path.join(
        dest, "metadata", f"v{_current_version(dest)}.metadata.json"
    )
    with open(meta) as fh:
        doc = json.load(fh)
    running = 0
    for snap in sorted(
        doc["snapshots"], key=lambda s: s.get("sequence-number") or 0
    ):
        summ = snap.setdefault("summary", {})
        if summ.get("operation", "append") == "append":
            running += int(summ.get("added-data-files") or 0)
        summ.pop("added-data-files", None)
        summ["total-data-files"] = str(running)
    with open(meta, "w") as fh:
        json.dump(doc, fh)

    r = IcebergMirrorStreamReader(
        {"path": dest, "max-files-per-trigger": "2"}, df.schema
    )
    pos = r.initialOffset()
    windows, got = [], []
    while True:
        end = r.latestOffset()
        if end == pos:
            break
        parts = r.partitions(pos, end)
        windows.append(len(parts))
        for p in parts:
            for b in r.read(p):
                got.extend(b.column("id").to_pylist())
        r.commit(end)
        pos = end
    # delta costs are 1,1,1,1,1 → two snapshots per budget-2 window,
    # the same packing as the added-data-files era. The raw-total bug
    # charged the CUMULATIVE 1,2,3,4,5 — every window after the first
    # degenerated to a single snapshot ([1,1,1,1,1])
    assert windows == [2, 2, 1]
    assert sorted(got) == list(range(30))


def test_stream_restart_from_checkpoint(spark, wh):
    """Round-8 transport rewrite, the contract that must survive it:
    offsets in the checkpoint log recover across a stop/restart — rows
    consumed before the stop never re-emit, rows appended while the
    stream was down all arrive, and a cap set on the restarted reader
    does not corrupt recovery (its first planned window is uncapped by
    design, then the engine teaches the base)."""
    cat = FsCatalog(wh)
    if ("ns",) not in cat.list_namespaces():
        cat.create_namespace(("ns",))
    df = spark.createDataFrame(
        [(i, f"d{i}", "k") for i in range(9)], "id long, data string, kind string"
    )
    ops = cat.create_table(("ns",), "rst", df.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(df.filter(F.col("id") < 3))  # era A
    cat.create_table(("ns",), "rst_out", df.schema.jsonValue())

    # the memory sink refuses checkpoint recovery; the format's own
    # stream sink is the recoverable one (and its stream-batch-id dedup
    # is scoped to this checkpoint, so replays stay idempotent)
    ckpt = tempfile.mkdtemp(prefix="ckpt_rst_")

    def run():
        return (
            spark.readStream.format("relative")
            .option("warehouse", wh)
            .option("table", "ns.rst")
            .option("max-files-per-trigger", "1")
            .load()
            .writeStream.format("relative")
            .option("warehouse", wh)
            .option("table", "ns.rst_out")
            .option("checkpointLocation", ckpt)
            .start()
        )

    def sink_ids():
        out = RelativeTable(FsCatalog(wh).load_table(("ns",), "rst_out"))
        return sorted(r.id for r in out.read(spark).collect())

    q = run()
    try:
        q.processAllAvailable()
        assert sink_ids() == [0, 1, 2]
    finally:
        q.stop()

    # the stream is down; two more snapshots land
    table.append(df.filter((F.col("id") >= 3) & (F.col("id") < 6)))
    table.append(df.filter(F.col("id") >= 6))

    q = run()
    try:
        q.processAllAvailable()
        # era A was committed before the stop: never re-emitted.
        # both down-time eras arrive exactly once.
        assert sink_ids() == list(range(9))
    finally:
        q.stop()


def test_stream_trigger_available_now(spark, wh):
    """Trigger.AvailableNow — the production catch-up trigger — works
    over the Python stream source: the query terminates on its own and
    the backlog arrives exactly once. (With a cap set, the backlog
    still lands in ONE batch here: AvailableNow latches the FIRST
    planned window, which is uncapped by design — see
    RelativeStreamReader. Steady-state caps need a running trigger.)"""
    cat = FsCatalog(wh)
    if ("ns",) not in cat.list_namespaces():
        cat.create_namespace(("ns",))
    df = spark.createDataFrame(
        [(i, f"d{i}", "k") for i in range(12)], "id long, data string, kind string"
    )
    ops = cat.create_table(("ns",), "an", df.schema.jsonValue())
    table = RelativeTable(ops)
    for k in range(3):
        table.append(df.filter(F.col("id") % 3 == k).repartition(2))
    q = (
        spark.readStream.format("relative")
        .option("warehouse", wh)
        .option("table", "ns.an")
        .option("max-files-per-trigger", "2")
        .load()
        .writeStream.format("memory")
        .queryName("an_sink")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_an_"))
        .start()
    )
    assert q.awaitTermination(120), "AvailableNow must self-terminate"
    assert sorted(r.id for r in spark.table("an_sink").collect()) == list(range(12))


def test_mirror_stream_cap_engine_end_to_end(spark):
    """The mirror tail's cap through the real engine, same scenario as
    the native test: a RUNNING tail falls behind two 2-file append eras
    and catches up in >=2 bounded micro-batches, exactly once."""
    from iceberg_relative_io_spark.catalog import iceberg_export
    from iceberg_relative_io_spark.sources.iceberg_mirror_source import (
        IcebergMirrorDataSource,
    )

    try:
        spark.dataSource.register(IcebergMirrorDataSource)
    except Exception:
        pass
    wh = tempfile.mkdtemp(prefix="mbpe_wh_")
    cat = FsCatalog(wh)
    cat.create_namespace(("ns",))
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(30)], "id long, v string"
    )
    ops = cat.create_table(("ns",), "mbpe", df.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(df.filter(F.col("id") < 10).repartition(1))
    dest = tempfile.mkdtemp(prefix="mbpe_")
    iceberg_export.export_iceberg(table, dest)  # seed era

    q = (
        spark.readStream.format("iceberg_mirror")
        .option("path", dest)
        .option("max-files-per-trigger", "2")
        .load()
        .writeStream.format("memory")
        .queryName("mbpe_sink")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_mbpe_"))
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1: the seed (uncapped window)
        for lo in (10, 20):  # the tail falls behind two 2-file eras
            iceberg_export.append_iceberg(
                spark,
                dest,
                df.filter(
                    (F.col("id") >= lo) & (F.col("id") < lo + 10)
                ).repartition(2),
            )
        q.processAllAvailable()
        fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(fed) >= 3, (
            f"seed + >=2 capped catch-up batches expected, got {len(fed)}"
        )
        assert sorted(r.id for r in spark.table("mbpe_sink").collect()) == list(
            range(30)
        )
    finally:
        q.stop()


def test_mirror_fresh_batch_replay_detects_expiry(spark):
    """Review finding (round 8): batch 1's start has no consumed-snapshot
    anchor, so it carries the oldest surviving ancestor observed at
    initialOffset as a first_sid witness. If expiry reaps history while
    batch 1 is still uncommitted, the replay must RAISE — silently
    planning the window would drop the reaped snapshots' rows (their
    log entries are trimmed). A stream STARTED after the expiry still
    replays the surviving log without error."""
    import pytest as _pytest

    from iceberg_relative_io_spark.catalog import iceberg_export

    dest = _mirror(spark, [(1, "a")])
    iceberg_export.append_iceberg(
        spark, dest, spark.createDataFrame([(2, "b")], "id long, v string")
    )
    iceberg_export.append_iceberg(
        spark, dest, spark.createDataFrame([(3, "c")], "id long, v string")
    )
    r = _reader(dest)
    start = r.initialOffset()
    end = r.latestOffset()
    # expiry reaps the two oldest snapshots under the uncommitted batch
    iceberg_export.expire_snapshots_iceberg(dest, keep_last=1)
    with _pytest.raises(ValueError, match="first batch replay"):
        r.partitions(start, end)

    # a FRESH stream (post-expiry witness) replays the surviving log
    r2 = _reader(dest)
    rows, _ = _advance(r2, r2.initialOffset())
    assert rows == [(3, "c")]



def test_mirror_empty_start_replay_detects_expiry(spark):
    """Review finding (round 8, follow-up): a stream started on an EMPTY
    mirror has no snapshot to witness — batch 1's replay instead demands
    an unbroken parent chain to a null-parent genesis (expiry keeps the
    boundary's dangling parent pointer). Reaping history under the
    uncommitted first batch raises; a legitimate empty->append flow
    streams fine."""
    import pytest as _pytest

    from iceberg_relative_io_spark.catalog import iceberg_export

    # build a SNAPSHOT-LESS mirror, the state an external writer's
    # freshly-created Iceberg table has before its first commit (our own
    # exporter always writes one snapshot, so surgically reset the doc)
    import json as _json
    import os as _os

    wh = tempfile.mkdtemp(prefix="mirror_empty_wh_")
    cat = FsCatalog(wh)
    cat.create_namespace(("ns",))
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    ops = cat.create_table(("ns",), "m0", df.schema.jsonValue())
    table = RelativeTable(ops)
    dest = tempfile.mkdtemp(prefix="mirror_empty_")
    iceberg_export.export_iceberg(table, dest)
    meta_path = _os.path.join(dest, "metadata", "v1.metadata.json")
    doc = _json.loads(open(meta_path).read())
    doc["snapshots"] = []
    doc["snapshot-log"] = []
    doc["refs"] = {}
    doc.pop("current-snapshot-id", None)
    doc["last-sequence-number"] = 0
    open(meta_path, "w").write(_json.dumps(doc))

    r = _reader(dest)
    start = r.initialOffset()
    assert start.get("genesis") is True
    # legitimate flow first: appends land, the batch replays cleanly
    for k in range(3):
        iceberg_export.append_iceberg(
            spark,
            dest,
            spark.createDataFrame([(10 + k, f"v{k}")], "id long, v string"),
        )
    end = r.latestOffset()
    assert sorted(_replay(r, start, end)) == [
        (10, "v0"), (11, "v1"), (12, "v2")
    ]
    # now expiry reaps history under the (still uncommitted) batch
    iceberg_export.expire_snapshots_iceberg(dest, keep_last=1)
    with _pytest.raises(ValueError, match="first batch replay"):
        r.partitions(start, end)


def test_mirror_caught_up_tail_tolerates_aged_out_anchor(spark):
    """Fuzz-found (tools/fuzz_stream.py): a CAUGHT-UP tail whose anchor
    snapshot ages out of retention must keep streaming — every reaped
    sequence is at or below the oldest surviving ancestor's, which is at
    or below the consumed watermark, so nothing unconsumed was reaped.
    The fell-behind case (boundary above the watermark) still raises
    (test_mirror_tail_survives_log_trimming_by_expiry)."""
    from iceberg_relative_io_spark.catalog import iceberg_export

    dest = _mirror(spark, [(1, "a")])
    iceberg_export.append_iceberg(
        spark, dest, spark.createDataFrame([(2, "b")], "id long, v string")
    )
    r = _reader(dest)
    rows, off = _advance(r, r.initialOffset())
    assert sorted(rows) == [(1, "a"), (2, "b")]  # caught up; anchor = head
    # a manifest rewrite moves the head WITHOUT new content, then expiry
    # reaps everything but the rewrite — including the tail's anchor
    iceberg_export.rewrite_manifests_iceberg(dest)
    iceberg_export.expire_snapshots_iceberg(dest, keep_last=1)
    rows2, off2 = _advance(r, off)
    assert rows2 == []  # tolerated: nothing unconsumed was reaped
    # and the tail keeps flowing afterwards, exactly once
    iceberg_export.append_iceberg(
        spark, dest, spark.createDataFrame([(3, "c")], "id long, v string")
    )
    rows3, _ = _advance(r, off2)
    assert rows3 == [(3, "c")]


def test_mirror_stream_cap_expired_parent_floor():
    """Round-10 advice: in the totals-only costing era, a snapshot whose
    parent has been EXPIRED out of the snapshot list has an unknowable
    delta. Costing it at own_total - 0 charges the whole table history
    to that snapshot and degrades its window's catch-up to one snapshot
    per trigger; the fix floors it at 1 like the totals-absent branch.
    (A genuinely parentless first snapshot still costs its full total —
    that total IS its delta.)"""
    from iceberg_relative_io_spark.sources.iceberg_mirror_source import (
        IcebergMirrorStreamReader,
    )

    # snapshots 2..6, totals-only summaries, snapshot 1 expired (absent);
    # snapshot 2's parent pointer dangles at it
    snaps = [
        {
            "snapshot-id": k,
            "parent-snapshot-id": k - 1,
            "sequence-number": k,
            "summary": {"operation": "append", "total-data-files": str(k)},
        }
        for k in range(2, 7)
    ]
    doc = {
        "snapshots": snaps,
        "current-snapshot-id": 6,
        "last-sequence-number": 6,
    }
    r = IcebergMirrorStreamReader.__new__(IcebergMirrorStreamReader)
    r.max_files = 2
    r._pos_seq = 1  # base: everything after seq 1 is in-window
    capped = r._capped_offset(doc, 6)
    # floor-1 cost for the dangling-parent snapshot → two snapshots fit
    # the budget-2 window (the raw-total bug costed snapshot 2 at 2 and
    # the window degenerated to one snapshot, max_seq == 2)
    assert capped is not None and capped["max_seq"] == 3, capped
