"""Iceberg v2 export (catalog/iceberg_export.py) + Avro OCF
(catalog/avro_ocf.py).

No Iceberg client can be installed in this environment, so the gate is
(a) byte-level self-consistency of the Avro container (write -> read
round-trips arbitrary nested values under both codecs), and (b) an
independent spec-path reader (version-hint -> metadata.json -> avro
manifest list -> avro manifests -> parquet + identity-partition fill)
returning exactly the source table's rows. The metadata shape is
asserted against the reference example's key set (README.md:24-109).
"""

from __future__ import annotations

import json
import tempfile

import pytest
from pyspark.sql import functions as F

from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable
from iceberg_relative_io_spark.catalog import avro_ocf, iceberg_export, scan
from iceberg_relative_io_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# avro container
# ---------------------------------------------------------------------------

NESTED_SCHEMA = {
    "type": "record",
    "name": "outer",
    "fields": [
        {"name": "id", "type": "long", "field-id": 1},
        {"name": "name", "type": ["null", "string"], "field-id": 2},
        {"name": "score", "type": "double"},
        {"name": "flag", "type": "boolean"},
        {"name": "raw", "type": "bytes"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "props", "type": {"type": "map", "values": "long"}},
        {
            "name": "inner",
            "type": [
                "null",
                {
                    "type": "record",
                    "name": "inner_r",
                    "fields": [
                        {"name": "x", "type": "int"},
                        {"name": "y", "type": ["null", "double"]},
                    ],
                },
            ],
        },
    ],
}

RECORDS = [
    {
        "id": 1,
        "name": "alpha",
        "score": 1.5,
        "flag": True,
        "raw": b"\x00\x01\xff",
        "tags": ["a", "b"],
        "props": {"k1": 10, "k2": -3},
        "inner": {"x": 7, "y": 2.25},
    },
    {
        "id": -9007199254740993,  # beyond 2^53: varint must hold it
        "name": None,
        "score": -0.0,
        "flag": False,
        "raw": b"",
        "tags": [],
        "props": {},
        "inner": None,
    },
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_ocf_round_trip(codec):
    data = avro_ocf.write_ocf(
        NESTED_SCHEMA, RECORDS, codec=codec, metadata={"custom": "yes"}
    )
    schema, meta, out = avro_ocf.read_ocf(data)
    assert schema == NESTED_SCHEMA  # field-id attributes preserved
    assert meta["custom"] == "yes"
    assert meta["avro.codec"] == codec
    assert out == RECORDS


def test_ocf_zigzag_longs():
    sch = {"type": "record", "name": "r", "fields": [{"name": "v", "type": "long"}]}
    vals = [0, -1, 1, 63, 64, -64, -65, 2**62, -(2**62), 123456789012345]
    data = avro_ocf.write_ocf(sch, [{"v": v} for v in vals], codec="null")
    _, _, out = avro_ocf.read_ocf(data)
    assert [r["v"] for r in out] == vals


def test_ocf_rejects_garbage():
    with pytest.raises(ValueError):
        avro_ocf.read_ocf(b"PAR1 not avro")


# ---------------------------------------------------------------------------
# export round-trip
# ---------------------------------------------------------------------------

def _table(spark, df, partition_by=None):
    cat = FsCatalog(tempfile.mkdtemp(prefix="iceexp_wh_"))
    cat.create_namespace(("ns",))
    ops = cat.create_table(
        ("ns",), "t", df.schema.jsonValue(), partition_by=partition_by
    )
    t = RelativeTable(ops)
    t.append(df)
    return t


def _round_trip(spark, table):
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    info = iceberg_export.export_iceberg(table, dest)
    got = iceberg_export.read_iceberg(spark, dest)
    want = table.read(spark)
    assert sorted(map(tuple, got.select(*want.columns).collect())) == sorted(
        map(tuple, want.collect())
    )
    return dest, info


def test_export_unpartitioned(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest, info = _round_trip(spark, table)
    assert info["records"] == nation.count()
    doc = json.load(open(f"{dest}/metadata/v1.metadata.json"))
    # the reference example's key set (README.md:24-109)
    for key in (
        "format-version", "table-uuid", "location", "last-sequence-number",
        "last-updated-ms", "last-column-id", "current-schema-id", "schemas",
        "default-spec-id", "partition-specs", "last-partition-id",
        "default-sort-order-id", "sort-orders", "properties",
        "current-snapshot-id", "refs", "snapshots", "statistics",
        "partition-statistics", "snapshot-log", "metadata-log",
    ):
        assert key in doc, key
    assert doc["format-version"] == 2
    sch = doc["schemas"][0]
    assert sch["schema-id"] == 0
    ids = [f["id"] for f in sch["fields"]]
    assert len(set(ids)) == len(ids) and all(i >= 1 for i in ids)
    snap = doc["snapshots"][0]
    assert snap["snapshot-id"] == doc["current-snapshot-id"]
    assert doc["refs"]["main"]["snapshot-id"] == snap["snapshot-id"]
    # manifest list is a valid avro container with spec field names
    _, _, mls = avro_ocf.read_ocf(open(snap["manifest-list"], "rb").read())
    assert mls[0]["added_snapshot_id"] == snap["snapshot-id"]
    assert mls[0]["content"] == 0 and mls[0]["sequence_number"] == 1
    esch, emeta, entries = avro_ocf.read_ocf(
        open(mls[0]["manifest_path"], "rb").read()
    )
    assert emeta["format-version"] == "2" and emeta["content"] == "data"
    assert all(e["data_file"]["file_format"] == "PARQUET" for e in entries)
    assert sum(e["data_file"]["record_count"] for e in entries) == info["records"]
    # field-ids on the manifest schema per spec
    by_name = {f["name"]: f for f in esch["fields"]}
    assert by_name["status"]["field-id"] == 0
    assert by_name["data_file"]["field-id"] == 2


def test_export_identity_partitioned(spark, sf_dir):
    """Identity partition columns are absent from the data files (Spark
    partitionBy layout); the spec reader must restore them from the
    manifest partition struct."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation, partition_by=["n_regionkey"])
    dest, _ = _round_trip(spark, table)
    doc = json.load(open(f"{dest}/metadata/v1.metadata.json"))
    pf = doc["partition-specs"][0]["fields"]
    assert pf[0]["transform"] == "identity" and pf[0]["field-id"] == 1000
    src_id = pf[0]["source-id"]
    assert any(f["id"] == src_id and f["name"] == "n_regionkey"
               for f in doc["schemas"][0]["fields"])


def test_export_day_transform(spark, sf_dir):
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts")
        .limit(500)
    )
    table = _table(spark, ev, partition_by=["day(ts)"])
    dest, _ = _round_trip(spark, table)
    doc = json.load(open(f"{dest}/metadata/v1.metadata.json"))
    assert doc["partition-specs"][0]["fields"][0]["transform"] == "day"
    snap = doc["snapshots"][0]
    _, _, mls = avro_ocf.read_ocf(open(snap["manifest-list"], "rb").read())
    _, _, entries = avro_ocf.read_ocf(open(mls[0]["manifest_path"], "rb").read())
    days = [e["data_file"]["partition"]["ts_day"] for e in entries]
    assert all(isinstance(d, int) and 10000 < d < 40000 for d in days)


def test_export_identity_on_date_and_timestamp(spark, sf_dir):
    """Identity partitions on temporal sources must export the spec's
    typed values — days since epoch (int) for date, micros since epoch
    (long) for timestamp — not the hive dir string (which would either
    crash int() or write a spec-violating string partition value)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts")
        .withColumn("d", F.to_date("ts"))
        .withColumn("th", F.date_trunc("day", F.col("ts")))
        .limit(200)
    )
    # date identity
    table = _table(spark, ev.select("event_id", "ts", "d"), partition_by=["d"])
    dest, _ = _round_trip(spark, table)
    doc = json.load(open(f"{dest}/metadata/v1.metadata.json"))
    snap = doc["snapshots"][0]
    _, _, mls = avro_ocf.read_ocf(open(snap["manifest-list"], "rb").read())
    esch, _, entries = avro_ocf.read_ocf(open(mls[0]["manifest_path"], "rb").read())
    part_schema = next(
        f for f in esch["fields"][-1]["type"]["fields"] if f["name"] == "partition"
    )["type"]
    assert part_schema["fields"][0]["type"] == ["null", "int"]
    vals = [e["data_file"]["partition"]["d"] for e in entries]
    assert all(isinstance(v, int) and 10000 < v < 40000 for v in vals)
    # timestamp identity (day-truncated so the dir count stays sane)
    table = _table(spark, ev.select("event_id", "d", "th"), partition_by=["th"])
    dest, _ = _round_trip(spark, table)
    doc = json.load(open(f"{dest}/metadata/v1.metadata.json"))
    snap = doc["snapshots"][0]
    _, _, mls = avro_ocf.read_ocf(open(snap["manifest-list"], "rb").read())
    esch, _, entries = avro_ocf.read_ocf(open(mls[0]["manifest_path"], "rb").read())
    part_schema = next(
        f for f in esch["fields"][-1]["type"]["fields"] if f["name"] == "partition"
    )["type"]
    assert part_schema["fields"][0]["type"] == ["null", "long"]
    vals = [e["data_file"]["partition"]["th"] for e in entries]
    day_us = 86_400_000_000
    assert all(isinstance(v, int) and v % day_us == 0 for v in vals)


def test_export_identity_with_plus_in_partition_value(spark, sf_dir):
    """A literal '+' is a legal URI path char the encoder leaves alone,
    but url_decode is FORM decoding and turns it into a space: identity
    partition dirs like tz=+00:00 silently broke the _metadata.file_path
    normalization — NULL restored partition columns and position deletes
    that miss their rows. Guards the %2B pre-protect in _norm_meta_path."""
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    tz = F.when(F.col("n_regionkey") % 2 == 0, F.lit("+00:00")).otherwise(
        F.lit("+05:30")
    )
    df = nation.withColumn("tz", tz)
    table = _table(spark, df, partition_by=["tz"])
    # identity restore must fill tz (not NULL) for every row
    dest, _ = _round_trip(spark, table)
    # and a position delete keyed on (file_path, pos) must actually land
    n_even = df.filter(F.col("tz") == "+00:00").count()
    assert n_even > 0
    info = iceberg_export.delete_positions_iceberg(
        spark, dest, F.col("tz") == "+00:00"
    )
    assert info["delete-records"] == n_even
    got = iceberg_export.read_iceberg(spark, dest)
    assert got.filter(F.col("tz") == "+00:00").count() == 0
    assert got.count() == df.count() - n_even


def test_murmur3_spec_vectors():
    """The published Iceberg spec Appendix B hash vectors — the ground
    truth that makes exported bucket[N] specs safe for external engines
    to prune by."""
    import struct as _struct
    from datetime import date, datetime

    import numpy as np

    from iceberg_relative_io_spark.catalog.bucket_hash import (
        _mmh3_long_vec,
        bucket_value,
        murmur3_32,
    )

    assert murmur3_32(_struct.pack("<q", 34)) == 2017239379  # int/long 34
    assert murmur3_32(b"iceberg") == 1210000089  # string
    d = (date(2017, 11, 16) - date(1970, 1, 1)).days
    assert murmur3_32(_struct.pack("<q", d)) == -653330422  # date
    us = int(
        (datetime(2017, 11, 16, 22, 31, 8) - datetime(1970, 1, 1)).total_seconds()
        * 1_000_000
    )
    assert murmur3_32(_struct.pack("<q", us)) == -2047944441  # timestamp
    assert murmur3_32(bytes([0, 1, 2, 3])) == -188683207  # binary
    from decimal import Decimal

    from iceberg_relative_io_spark.catalog.bucket_hash import _hash_decimal

    assert _hash_decimal(Decimal("14.20")) == -500754589  # decimal
    # vectorized long path agrees with the scalar reference
    vec = _mmh3_long_vec(np.array([34, d, us], dtype=np.int64)).view(np.int32)
    assert vec.tolist() == [2017239379, -653330422, -2047944441]
    # driver-side bucket ids (hash & MAX_INT) % N
    assert bucket_value(34, 16) == 2017239379 % 16
    assert bucket_value("iceberg", 16) == 1210000089 % 16


def test_xxhash64_mirror_matches_spark(spark):
    """The legacy-layout pruning mirror must equal Spark's F.xxhash64
    bit-for-bit on every supported source type — Spark itself is the
    ground truth here (seed 42, type-specific byte representations)."""
    import datetime as dt

    from iceberg_relative_io_spark.catalog.bucket_hash import (
        xxhash64_bytes,
        xxhash64_int,
        xxhash64_long,
    )

    rows = spark.createDataFrame(
        [
            (
                i * 7919 - 3,
                f"s{i}*" * i,
                dt.date(2020, 1, 1) + dt.timedelta(days=i),
                dt.datetime(2021, 3, 4, 5, 6, 7, i),
                bytes([i % 256] * (i % 37)),
            )
            for i in range(40)
        ],
        "l long, s string, d date, t timestamp, b binary",
    )
    got = rows.select(
        "l", "s", "d", "t", "b",
        F.xxhash64("l").alias("hl"), F.xxhash64("s").alias("hs"),
        F.xxhash64("d").alias("hd"), F.xxhash64("t").alias("ht"),
        F.xxhash64("b").alias("hb"),
    ).collect()
    epoch = dt.date(1970, 1, 1)
    for r in got:
        assert xxhash64_long(r.l) == r.hl
        assert xxhash64_bytes(r.s.encode()) == r.hs
        assert xxhash64_int((r.d - epoch).days) == r.hd
        micros = int(
            r.t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000
        )
        assert xxhash64_long(micros) == r.ht
        assert xxhash64_bytes(bytes(r.b)) == r.hb


def test_export_retains_murmur3_bucket_field(spark, sf_dir):
    """New tables hash bucket(N, col) with the spec Murmur3, so the
    exported spec keeps bucket[N]; the recorded partition values must
    equal the spec hash of each file's keys, and read_iceberg must
    bucket-prune an equality predicate (reads strictly fewer files)."""
    from iceberg_relative_io_spark.catalog.bucket_hash import bucket_value

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    ).limit(400)
    table = _table(spark, cust, partition_by=["bucket(4, c_custkey)"])
    assert table.ops.current().get("bucket-hash") == "murmur3"
    dest, _ = _round_trip(spark, table)
    doc = json.load(open(f"{dest}/metadata/v1.metadata.json"))
    pf = doc["partition-specs"][0]["fields"]
    assert pf and pf[0]["transform"] == "bucket[4]"
    # every file's recorded bucket equals the spec hash of its rows' keys
    snap = doc["snapshots"][0]
    _, _, mls = avro_ocf.read_ocf(open(snap["manifest-list"], "rb").read())
    _, _, entries = avro_ocf.read_ocf(open(mls[0]["manifest_path"], "rb").read())
    for e in entries:
        b = e["data_file"]["partition"]["c_custkey_bucket"]
        keys = [
            r.c_custkey
            for r in spark.read.parquet(e["data_file"]["file_path"])
            .select("c_custkey").collect()
        ]
        assert all(bucket_value(k, 4) == b for k in keys)
    # bucket pruning through the spec reader: equality on the source
    # column must read strictly fewer files and return the exact row
    probe = cust.limit(1).collect()[0]
    got = iceberg_export.read_iceberg(
        spark, dest, eq_filters={"c_custkey": probe.c_custkey}
    )
    all_files = {e["data_file"]["file_path"] for e in entries}
    assert 0 < len(set(got.inputFiles())) < len(all_files)
    rows = got.collect()
    assert len(rows) == 1 and rows[0].c_name == probe.c_name


def test_export_drops_legacy_xxhash_bucket_field(spark, sf_dir):
    """Tables created before the Murmur3 switch (no bucket-hash key in
    metadata) keep their xxhash64 layout; exporting THEIR bucket field
    as bucket[N] would let readers prune by the wrong hash, so it is
    dropped while rows stay complete (source col is in the files)."""
    region = load_table(spark, sf_dir, "region")
    cat = FsCatalog(tempfile.mkdtemp(prefix="iceexp_wh_"))
    cat.create_namespace(("ns",))
    ops = cat.create_table(
        ("ns",), "t", region.schema.jsonValue(),
        partition_by=["bucket(2, r_regionkey)"],
    )
    # surgically age the metadata to the pre-switch dialect
    meta = json.loads(json.dumps(ops.current()))
    del meta["bucket-hash"]
    ops.commit(ops.current_version(), meta)
    ops.refresh()
    table = RelativeTable(ops)
    table.append(region)
    dest, _ = _round_trip(spark, table)
    doc = json.load(open(f"{dest}/metadata/v1.metadata.json"))
    assert doc["partition-specs"][0]["fields"] == []


def test_export_mor_delete_on_identity_partition_column(spark, sf_dir):
    """An equality delete KEYED ON the identity partition column is
    legal; the spec reader must restore identity columns from the
    manifest partition struct BEFORE applying delete manifests, or the
    anti-join cannot resolve the column (it is absent from data files)."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation, partition_by=["n_regionkey"])
    table.delete_where_mor(spark, F.col("n_regionkey") == 2, ["n_regionkey"])
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    got = iceberg_export.read_iceberg(spark, dest)
    want = table.read(spark)
    assert sorted(map(tuple, got.select(*want.columns).collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.filter(F.col("n_regionkey") == 2).count() == 0


def test_export_mor_deletes_without_compaction(spark, sf_dir):
    """Live equality deletes export as content=2 delete manifests with
    sequence scoping: the deleted key disappears, a key re-inserted
    AFTER the delete survives (strictly-older rule), and the export
    still works after rewrite_manifests carries the delete forward
    (the round-4 resurrection regression, now pinned on the export
    path too)."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    table.delete_where_mor(spark, F.col("n_nationkey") == 3, ["n_nationkey"])
    # re-insert key 3 after the delete: must survive export round-trip
    reinserted = nation.filter(F.col("n_nationkey") == 3).withColumn(
        "n_name", F.lit("REBORN")
    )
    table.append(reinserted)
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    info = iceberg_export.export_iceberg(table, dest)
    assert info["delete-files"] == 1
    got = iceberg_export.read_iceberg(spark, dest)
    want = table.read(spark)
    assert sorted(map(tuple, got.select(*want.columns).collect())) == sorted(
        map(tuple, want.collect())
    )
    rows3 = got.filter(F.col("n_nationkey") == 3).collect()
    assert len(rows3) == 1 and rows3[0].n_name == "REBORN"
    # summary records the delete plane
    doc = json.load(open(f"{dest}/metadata/v1.metadata.json"))
    assert doc["snapshots"][0]["summary"]["total-delete-files"] == "1"
    assert doc["last-sequence-number"] >= 3
    # metadata-only manifest rewrite must keep the delete applying
    table.rewrite_manifests()
    dest2 = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest2)
    got2 = iceberg_export.read_iceberg(spark, dest2)
    rows3 = got2.filter(F.col("n_nationkey") == 3).collect()
    assert len(rows3) == 1 and rows3[0].n_name == "REBORN"
    assert got2.count() == nation.count()


def test_export_history_time_travel(spark, sf_dir):
    """include_history=True exports every non-expired ancestor with its
    own manifest list, source snapshot ids and parent links preserved:
    an external engine time-travels the exported table exactly as this
    engine does — including a MOR delete mid-history (the global
    sequence mapping must keep its scoping right at every snapshot)."""
    nation = load_table(spark, sf_dir, "nation")
    first = nation.filter(F.col("n_nationkey") < 10)
    table = _table(spark, first)
    sid1 = table.ops.current()["current-snapshot-id"]
    table.append(nation.filter(F.col("n_nationkey") >= 10))
    sid2 = table.ops.current()["current-snapshot-id"]
    table.delete_where_mor(spark, F.col("n_nationkey") == 3, ["n_nationkey"])
    sid3 = table.ops.current()["current-snapshot-id"]

    dest = tempfile.mkdtemp(prefix="iceexp_hist_")
    info = iceberg_export.export_iceberg(table, dest, include_history=True)
    assert info["snapshots"] == 3
    doc = json.load(open(f"{dest}/metadata/v1.metadata.json"))
    ids = [s["snapshot-id"] for s in doc["snapshots"]]
    assert ids == [sid1, sid2, sid3]  # oldest first, source ids preserved
    assert doc["snapshots"][1]["parent-snapshot-id"] == sid1
    assert doc["snapshots"][2]["parent-snapshot-id"] == sid2
    assert doc["current-snapshot-id"] == sid3
    assert [e["snapshot-id"] for e in doc["snapshot-log"]] == ids
    # time travel through the spec reader == the engine's own time travel
    for sid in (sid1, sid2, sid3):
        got = iceberg_export.read_iceberg(spark, dest, snapshot_id=sid)
        want = table.read(spark, snapshot_id=sid)
        assert sorted(map(tuple, got.select(*want.columns).collect())) == sorted(
            map(tuple, want.collect())
        ), f"snapshot {sid} diverged"
    # default read = head (delete applied)
    head = iceberg_export.read_iceberg(spark, dest)
    assert head.filter(F.col("n_nationkey") == 3).count() == 0


def test_export_schema_evolution_name_mapping(spark, sf_dir):
    """A renamed column lives under its OLD name in pre-rename parquet
    (our files carry names, not Iceberg field ids); the export writes
    the spec's schema.name-mapping.default so readers resolve old-era
    columns by field-id. Rename + add round-trip exactly; drop +
    re-add of the same name is inexpressible in a name mapping and
    must refuse with the compact() remedy."""
    cat = FsCatalog(tempfile.mkdtemp(prefix="iceexp_wh_"))
    cat.create_namespace(("ns",))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    ops = cat.create_table(("ns",), "t", df.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(df)
    table.rename_column("name", "label")
    table.append(spark.createDataFrame([(3, "c")], "id long, label string"))
    table.add_column("extra", "long")
    table.append(
        spark.createDataFrame([(4, "d", 9)], "id long, label string, extra long")
    )
    dest, _ = _round_trip(spark, table)
    doc = json.load(open(f"{dest}/metadata/v1.metadata.json"))
    mapping = json.loads(doc["properties"]["schema.name-mapping.default"])
    by_id = {m["field-id"]: m["names"] for m in mapping}
    label_id = next(
        f["id"] for f in doc["schemas"][0]["fields"] if f["name"] == "label"
    )
    assert set(by_id[label_id]) == {"name", "label"}
    # drop + re-add: same name, different id — refuse, don't corrupt
    table.drop_column("extra")
    table.add_column("extra", "long")
    table.append(
        spark.createDataFrame([(5, "e", 1)], "id long, label string, extra long")
    )
    with pytest.raises(ValueError, match="compact"):
        iceberg_export.export_iceberg(table, tempfile.mkdtemp())
    table.compact(spark)
    dest2, _ = _round_trip(spark, table)  # materialized schema exports fine


def test_import_iceberg_round_trip(spark, sf_dir):
    """export -> import closes the interop loop zero-copy: the imported
    RelativeTable reads identically to the source, MOR equality deletes
    keep their strictly-older scoping (a re-inserted key survives), and
    bucket[N] partition specs keep pruning (both sides murmur3)."""
    from iceberg_relative_io_spark.catalog.bucket_hash import bucket_value

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    ).limit(300)
    table = _table(spark, cust, partition_by=["bucket(4, c_custkey)"])
    table.delete_where_mor(spark, F.col("c_custkey") == 7, ["c_custkey"])
    table.append(
        cust.filter(F.col("c_custkey") == 7).withColumn("c_name", F.lit("REBORN"))
    )
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)

    cat2 = FsCatalog(tempfile.mkdtemp(prefix="iceimp_wh_"))
    cat2.create_namespace(("ns",))
    imp = iceberg_export.import_iceberg(spark, cat2, ("ns",), "imp", dest)
    want = table.read(spark)
    got = imp.read(spark)
    assert sorted(map(tuple, got.select(*want.columns).collect())) == sorted(
        map(tuple, want.collect())
    )
    rows7 = got.filter(F.col("c_custkey") == 7).collect()
    assert len(rows7) == 1 and rows7[0].c_name == "REBORN"
    # the imported bucket spec still prunes equality predicates
    assert imp.partition_spec == ["bucket(4, c_custkey)"]
    files = imp.scan_files()
    eq = imp.scan_files(column_ranges={"c_custkey": (42, 42)})
    assert 0 < len(eq) < len(files)
    assert {f["partition"]["c_custkey_bucket"] for f in eq} == {
        str(bucket_value(42, 4))
    }


def test_import_refuses_renamed_era_files(spark, sf_dir):
    """A source with name-mapping aliases (renamed-era parquet) cannot
    import safely by name; the remedy is compaction in the source. The
    refusal must ALSO fire when EVERY live file predates the rename
    (single-name mapping entry differing from the current name) — the
    engine would otherwise silently read that column as NULL."""
    cat = FsCatalog(tempfile.mkdtemp(prefix="iceexp_wh_"))
    cat.create_namespace(("ns",))
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    ops = cat.create_table(("ns",), "t", df.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(df)
    table.rename_column("name", "label")
    # NO post-rename append: all live files carry the old name
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    cat2 = FsCatalog(tempfile.mkdtemp(prefix="iceimp_wh_"))
    cat2.create_namespace(("ns",))
    with pytest.raises(ValueError, match="renamed-era"):
        iceberg_export.import_iceberg(spark, cat2, ("ns",), "imp", dest)
    # post-rename append too (two-name mapping entry): still refused
    table.append(spark.createDataFrame([(2, "b")], "id long, label string"))
    dest2 = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest2)
    with pytest.raises(ValueError, match="renamed-era"):
        iceberg_export.import_iceberg(spark, cat2, ("ns",), "imp2", dest2)


def test_export_history_past_reaped_ancestors(spark, sf_dir):
    """include_history must tolerate a parent pointer whose snapshot
    entry expire_snapshots fully removed (the reap boundary a chain
    reset leaves behind) — same tolerant-walk rule as
    rollback_to_snapshot; the reaped ancestry just ends the export."""
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    cat = FsCatalog(tempfile.mkdtemp(prefix="iceexp_wh_"))
    cat.create_namespace(("ns",))
    ops = cat.create_table(("ns",), "t", df.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(df)
    table.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    table.compact(spark)
    table.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    table.expire_snapshots(keep_last=2)
    dest = tempfile.mkdtemp(prefix="iceexp_hist_")
    info = iceberg_export.export_iceberg(table, dest, include_history=True)
    assert info["snapshots"] >= 1
    got = iceberg_export.read_iceberg(spark, dest)
    assert sorted(r.id for r in got.collect()) == [1, 2, 3]


def test_export_refuses_delete_keyed_on_renamed_column(spark, sf_dir):
    """A live MOR delete file keys by NAME at delete time; renaming that
    column afterwards strands the key outside the current schema (and
    the delete parquet itself carries the old name). Export must refuse
    with the compact() remedy, not die with a KeyError."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    cat = FsCatalog(tempfile.mkdtemp(prefix="iceexp_wh_"))
    cat.create_namespace(("ns",))
    ops = cat.create_table(("ns",), "t", df.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(df)
    table.delete_where_mor(spark, F.col("name") == "a", ["name"])
    table.rename_column("name", "label")
    with pytest.raises(ValueError, match="compact"):
        iceberg_export.export_iceberg(table, tempfile.mkdtemp())


def test_export_gzip_metadata(spark, sf_dir):
    """write.metadata.compression=gzip must carry into the export (A30
    parity): metadata lands as v1.gz.metadata.json and the spec reader
    probes the codec."""
    import gzip

    region = load_table(spark, sf_dir, "region")
    table = _table(spark, region)
    table.set_properties({"write.metadata.compression": "gzip"})
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    info = iceberg_export.export_iceberg(table, dest)
    assert info["metadata"].endswith("v1.gz.metadata.json")
    with gzip.open(info["metadata"], "rt") as fh:
        doc = json.load(fh)
    assert doc["format-version"] == 2
    got = iceberg_export.read_iceberg(spark, dest)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, region.collect())
    )


# ---------------------------------------------------------------------------
# position deletes (spec content=1 delete files)
# ---------------------------------------------------------------------------

def _first_data_file(dest):
    doc = iceberg_export._load_metadata(dest)
    snap = next(
        s for s in doc["snapshots"]
        if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    with open(snap["manifest-list"], "rb") as fh:
        _, _, mls = avro_ocf.read_ocf(fh.read())
    data_mf = next(m for m in mls if m["content"] == 0)
    with open(data_mf["manifest_path"], "rb") as fh:
        _, _, entries = avro_ocf.read_ocf(fh.read())
    return entries[0]["data_file"]["file_path"]


def test_position_delete_round_trip(spark, sf_dir):
    """write_position_deletes appends a spec-shaped content=1 snapshot
    and read_iceberg applies it via _metadata.row_index: positions are
    row ordinals in the (single, sorted) data file."""
    nation = load_table(spark, sf_dir, "nation").orderBy("n_nationkey").coalesce(1)
    table = _table(spark, nation)
    dest, _ = _round_trip(spark, table)
    path = _first_data_file(dest)
    info = iceberg_export.write_position_deletes(dest, {path: [0, 3, 7]})
    assert info["positions"] == 3
    got = iceberg_export.read_iceberg(spark, dest)
    keys = sorted(r.n_nationkey for r in got.select("n_nationkey").collect())
    assert keys == [k for k in range(25) if k not in (0, 3, 7)]
    # the delete parquet carries the spec's reserved field ids
    import pyarrow.parquet as pq

    sch = pq.read_schema(info["delete-file"])
    assert sch.field("file_path").metadata[b"PARQUET:field_id"] == b"2147483546"
    assert sch.field("pos").metadata[b"PARQUET:field_id"] == b"2147483545"


def test_position_delete_scheme_normalization(spark, sf_dir):
    """A delete file recording file:// URIs still matches Spark's
    _metadata.file_path (and vice versa) — path equality is
    scheme-insensitive."""
    region = load_table(spark, sf_dir, "region").orderBy("r_regionkey").coalesce(1)
    table = _table(spark, region)
    dest, _ = _round_trip(spark, table)
    path = _first_data_file(dest)
    iceberg_export.write_position_deletes(dest, {"file://" + path: [1]})
    keys = sorted(
        r.r_regionkey
        for r in iceberg_export.read_iceberg(spark, dest).collect()
    )
    assert keys == [0, 2, 3, 4]


def test_position_delete_sequence_scoping(spark, sf_dir):
    """Spec rule: a position delete applies to data files with sequence
    <= the delete's. A delete pinned BELOW the data sequence is inert;
    time travel to the pre-delete snapshot still sees every row."""
    region = load_table(spark, sf_dir, "region").orderBy("r_regionkey").coalesce(1)
    table = _table(spark, region)
    dest, _ = _round_trip(spark, table)
    path = _first_data_file(dest)
    iceberg_export.write_position_deletes(dest, {path: [0]}, sequence=0)
    keys = sorted(
        r.r_regionkey
        for r in iceberg_export.read_iceberg(spark, dest).collect()
    )
    assert keys == [0, 1, 2, 3, 4]  # inert: delete seq < data seq
    iceberg_export.write_position_deletes(dest, {path: [0]})
    assert sorted(
        r.r_regionkey
        for r in iceberg_export.read_iceberg(spark, dest).collect()
    ) == [1, 2, 3, 4]
    # pre-delete snapshot unaffected (snapshot-id 1 = the export)
    assert sorted(
        r.r_regionkey
        for r in iceberg_export.read_iceberg(spark, dest, snapshot_id=1).collect()
    ) == [0, 1, 2, 3, 4]


def test_position_deletes_compose_with_equality_deletes(spark, sf_dir):
    """A MOR export (equality deletes) accepts a further position
    delete; both kinds apply with their own scoping rules."""
    nation = load_table(spark, sf_dir, "nation").orderBy("n_nationkey").coalesce(1)
    table = _table(spark, nation)
    table.delete_where_mor(spark, F.col("n_nationkey") >= 20, ["n_nationkey"])
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    path = _first_data_file(dest)
    iceberg_export.write_position_deletes(dest, {path: [0, 1]})
    keys = sorted(
        r.n_nationkey
        for r in iceberg_export.read_iceberg(spark, dest).collect()
    )
    assert keys == list(range(2, 20))


def test_import_refuses_position_deletes(spark, sf_dir):
    """Zero-copy import has no equivalent for (file, pos) deletes —
    refused with the compact/read_iceberg remedy."""
    region = load_table(spark, sf_dir, "region").coalesce(1)
    table = _table(spark, region)
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    iceberg_export.write_position_deletes(dest, {_first_data_file(dest): [0]})
    cat = FsCatalog(tempfile.mkdtemp(prefix="iceexp_wh_"))
    cat.create_namespace(("ns",))
    with pytest.raises(ValueError, match="position deletes"):
        iceberg_export.import_iceberg(spark, cat, ("ns",), "imp", dest)


def test_position_delete_plan_is_broadcast_anti(spark, sf_dir):
    """100 TB plan shape: the position-delete probe must be a broadcast
    LEFT ANTI hash join — the data side scans once with no Exchange
    (deletes are per-file-bounded, so the build side stays small at any
    table size; a sort-merge join here would shuffle the whole table)."""
    customer = load_table(spark, sf_dir, "customer").orderBy("c_custkey").coalesce(1)
    table = _table(spark, customer)
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    iceberg_export.write_position_deletes(dest, {_first_data_file(dest): [0, 5]})
    df = iceberg_export.read_iceberg(spark, dest)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_position_delete_large_set_degrades_to_shuffled_hash(
    spark, sf_dir, monkeypatch
):
    """100 TB safety valve: when the manifests say the delete set is too
    big to broadcast (billions of (file, pos) rows after a positional
    delete of a large table fraction), the probe becomes a SHUFFLE_HASH
    anti-join — the delete side is hash-built per partition instead of
    shipped whole to every executor, and the probe side is still never
    sorted (no SortMergeJoin). Thresholds are forced to 0 to take the
    large path on fixture data; results must be identical."""
    nation = load_table(spark, sf_dir, "nation").orderBy("n_nationkey").coalesce(1)
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    iceberg_export.write_position_deletes(
        dest, {_first_data_file(dest): [0, 3, 7]}
    )
    monkeypatch.setattr(scan, "_BROADCAST_DELETE_MAX_BYTES", 0)
    monkeypatch.setattr(scan, "_BROADCAST_DELETE_MAX_ROWS", 0)
    df = iceberg_export.read_iceberg(spark, dest)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" not in plan
    keys = sorted(r.n_nationkey for r in df.select("n_nationkey").collect())
    assert keys == [k for k in range(25) if k not in (0, 3, 7)]


def test_equality_delete_large_set_degrades_to_shuffled_hash(
    spark, sf_dir, monkeypatch
):
    """Same safety valve for MOR equality deletes: forced-0 thresholds
    flip the content=2 probe to SHUFFLE_HASH with identical results."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    table.delete_where_mor(spark, F.col("n_regionkey") == 0, ["n_regionkey"])
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    monkeypatch.setattr(scan, "_BROADCAST_DELETE_MAX_BYTES", 0)
    monkeypatch.setattr(scan, "_BROADCAST_DELETE_MAX_ROWS", 0)
    df = iceberg_export.read_iceberg(spark, dest)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastHashJoin" not in plan
    keys = sorted(r.n_nationkey for r in df.collect())
    want = sorted(
        r.n_nationkey
        for r in nation.where(F.col("n_regionkey") != 0).collect()
    )
    assert keys == want


# ---------------------------------------------------------------------------
# one plan per read: one data scan, one scan per delete kind, sequence
# scoping in the anti-join condition
# ---------------------------------------------------------------------------

def _plan_file_scans(df) -> list[set]:
    """Input files of every parquet scan in ``df``'s physical plan, as
    normalized paths."""
    from urllib.parse import unquote

    out = []
    stack = [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
        if node.nodeName().startswith("Scan parquet"):
            files = node.relation().location().inputFiles()
            out.append(
                {iceberg_export._norm_path_py(unquote(f)) for f in files}
            )
    return out


def _head_walk(dest) -> tuple[list, list, list]:
    """(data entries, equality deletes, position deletes) of the head
    snapshot."""
    doc = iceberg_export._load_metadata(dest)
    snap = next(
        s for s in doc["snapshots"]
        if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    with open(snap["manifest-list"], "rb") as fh:
        _, _, mls = avro_ocf.read_ocf(fh.read())
    return iceberg_export._walk_manifests(mls)


def _live_files(dest) -> tuple[set, dict]:
    """Normalized paths of the head snapshot's data files, and its
    delete files grouped by kind: "pos" or the equality key ids."""
    data, eq, pos = _head_walk(dest)
    norm = iceberg_export._norm_path_py
    kinds: dict = {}
    for d in pos:
        kinds.setdefault("pos", set()).add(norm(d["path"]))
    for d in eq:
        kinds.setdefault(tuple(d["ids"]), set()).add(norm(d["path"]))
    return {norm(e["data_file"]["file_path"]) for e in data}, kinds


def test_read_iceberg_is_one_plan_with_sequence_scoped_anti_joins(
    spark, sf_dir, anti_join_builds
):
    """A mirror whose data files see different delete sets (an append
    after an equality delete, position deletes, a merge, an equality
    delete keyed on the identity partition column) reads as ONE plan:
    one parquet scan, over every data file, and one left-anti join per
    delete kind and key set whose build side is a local relation the
    driver read from the delete files, with no pickled-RDD relation
    (no Python worker). Building the read starts no Spark job. The
    spec's scoping holds inside that plan: a key re-appended after its
    equality delete survives (strict <), a position delete does not
    touch a file with a higher sequence (<=), and an equality delete
    keyed on the partition column applies through the restored
    column."""
    base = spark.range(40).select(
        F.col("id"),
        (F.col("id") % 4).cast("int").alias("p"),
        F.lit("base").alias("v"),
    )
    table = _table(spark, base, partition_by=["p"])
    dest = tempfile.mkdtemp(prefix="iceexp_oneplan_")
    iceberg_export.export_iceberg(table, dest)
    schema = "id long, p int, v string"

    iceberg_export.delete_where_iceberg(spark, dest, F.col("id") == 5, ["id"])
    iceberg_export.append_iceberg(
        spark, dest, spark.createDataFrame([(5, 1, "back")], schema)
    )
    iceberg_export.delete_positions_iceberg(spark, dest, F.col("id") == 6)
    # a position delete pinned below the re-appended file's sequence:
    # it names the file's row 0 but must not touch it
    back_file = next(
        e["data_file"]["file_path"]
        for e in _head_walk(dest)[0]
        if e["sequence_number"] == 3
    )
    iceberg_export.write_position_deletes(dest, {back_file: [0]}, sequence=2)
    iceberg_export.merge_iceberg(
        spark,
        dest,
        spark.createDataFrame([(8, 0, "merged"), (100, 0, "new")], schema),
        ["id"],
    )
    iceberg_export.delete_where_iceberg(spark, dest, F.col("p") == 3, ["p"])
    iceberg_export.append_iceberg(
        spark, dest, spark.createDataFrame([(103, 3, "after")], schema)
    )

    df, jobs = _jobs_started(spark, lambda: iceberg_export.read_iceberg(spark, dest))
    assert jobs == []
    data_files, kinds = _live_files(dest)
    assert len(kinds) == 3  # position, equality on id, equality on p
    assert _plan_file_scans(df) == [data_files]
    assert anti_join_builds(df) == [{"LocalTableScan"}] * len(kinds)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan

    got = sorted((r.id, r.p, r.v) for r in df.collect())
    want = sorted(
        [
            (i, i % 4, "base")
            for i in range(40)
            if i not in (5, 6, 8) and i % 4 != 3
        ]
        + [(5, 1, "back"), (8, 0, "merged"), (100, 0, "new"), (103, 3, "after")]
    )
    assert got == want
    # the partition-pruned read applies the same scoping
    p1 = iceberg_export.read_iceberg(spark, dest, eq_filters={"p": 1})
    assert sorted(r.id for r in p1.collect()) == sorted(
        i for i, p, _ in want if p == 1
    )


def test_ident_value_decodes_manifest_partition_values():
    """Identity partition values restore to the column's Python type,
    including the bytes an external writer's avro manifest carries for
    uuid, fixed, binary and decimal."""
    import uuid
    from datetime import date, datetime
    from decimal import Decimal

    iv = iceberg_export._ident_value
    u = uuid.UUID("12345678-1234-5678-1234-567812345678")
    assert iv("uuid", u.bytes) == str(u)
    assert iv("uuid", str(u)) == str(u)
    assert iv("fixed[3]", b"\x00\xff\x10") == b"\x00\xff\x10"
    assert iv("binary", b"\x01\x02") == b"\x01\x02"
    # decimal: unscaled two's-complement big-endian at the type's scale
    dec = (12345).to_bytes(2, "big", signed=True)
    assert iv("decimal(9, 2)", dec) == Decimal("123.45")
    assert iv("decimal(9, 2)", b"\xfb") == Decimal("-0.05")
    big = 10**37 + 1  # past float and default-context precision
    assert iv("decimal(38, 10)", big.to_bytes(16, "big", signed=True)) == Decimal(
        "1" + "0" * 27 + ".0000000001"
    )
    assert iv("decimal(9, 2)", "1.50") == Decimal("1.50")
    assert iv("date", 19723) == date(2024, 1, 1)
    assert iv("timestamptz", 86_400_000_001) == datetime(1970, 1, 2, 0, 0, 0, 1)
    assert iv("long", "42") == 42
    assert iv("double", 3) == 3.0
    assert iv("string", 7) == "7"
    assert iv("int", None) is None
    # a restored fixed column is binary-typed in Spark
    from pyspark.sql import types as T

    assert iceberg_export._spark_type_of("fixed[16]") == T.BinaryType()


def test_spark_type_of_inverts_iceberg_type():
    """``_spark_type_of`` is the exact inverse of ``_iceberg_type`` for
    every type the export emits, nested ones included, with required
    flags mapped back to nullability; a type it never emits (other
    than ``fixed[N]``, read as binary) raises naming it."""
    from pyspark.sql import types as T

    counter = iter(range(100, 1000))
    for dt in [
        T.BooleanType(), T.IntegerType(), T.LongType(), T.FloatType(),
        T.DoubleType(), T.StringType(), T.BinaryType(), T.DateType(),
        T.TimestampType(), T.TimestampNTZType(), T.DecimalType(12, 3),
        T.ArrayType(T.LongType(), True),
        T.ArrayType(T.StringType(), False),
        T.MapType(T.StringType(), T.LongType(), True),
        T.MapType(T.IntegerType(), T.DecimalType(5, 1), False),
        T.StructType([
            T.StructField("x", T.IntegerType(), True),
            T.StructField("y", T.StringType(), False),
            T.StructField(
                "z",
                T.ArrayType(
                    T.StructType([T.StructField("w", T.DateType(), True)]),
                    True,
                ),
                True,
            ),
        ]),
    ]:
        ice = iceberg_export._iceberg_type(dt, lambda: next(counter))
        assert iceberg_export._spark_type_of(ice) == dt, dt
    for bad in ("uuid", "time", {"type": "variant"}):
        with pytest.raises(ValueError, match="unsupported column type"):
            iceberg_export._spark_type_of(bad)
    assert iceberg_export._spark_type_of("uuid", T.StringType()) == T.StringType()


def test_read_iceberg_nested_types_round_trip(spark, sf_dir):
    """Scans take their schema from table metadata, so nested columns
    (list, map, struct) must map back from their Iceberg types: the
    mirror reads the source's rows under the source's schema."""
    src = spark.createDataFrame(
        [
            (1, [1, 2], {"a": 1}, (1, "x"), "p0"),
            (2, [], {}, (None, "y"), "p0"),
            (3, None, None, None, "p1"),
            (4, [None, 5], {"b": None}, (4, None), "p1"),
        ],
        "id long, arr array<long>, m map<string,long>, "
        "s struct<x:int,y:string>, part string",
    )
    table = _table(spark, src, partition_by=["part"])
    dest, _ = _round_trip(spark, table)  # same rows
    got = iceberg_export.read_iceberg(spark, dest)
    assert got.schema == table.read(spark).select(*got.columns).schema


def _jobs_started(spark, build):
    """(result of ``build()``, task counts of the Spark jobs it started).
    A marker job in a later group is waited for, so every job of the
    build's group has reached the status tracker."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "construct only", False)
    try:
        out = build()
        sc.setJobGroup(group + "-marker", "marker", False)
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 10
    while not tracker.getJobIdsForGroup(group + "-marker"):
        assert time.monotonic() < deadline
        time.sleep(0.01)
    tasks = [
        sum(tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds)
        for j in tracker.getJobIdsForGroup(group)
    ]
    return out, tasks


def test_read_iceberg_plans_from_metadata(spark, sf_dir):
    """A mirror with more than 32 live data files, an added column, a
    renamed column (an alias in the name mapping) and equality deletes
    keyed on the renamed column, one written under its old name. The
    read takes every schema from metadata: building a partition-pruned
    read starts no Spark job (no footer is sampled or merged), and an
    unfiltered read starts only Spark's file listing, sized to the
    cores rather than one task per file. Both return the model's rows."""
    from iceberg_relative_io_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    cores = int(
        spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.parallelism")
    )
    schema = "id long, name string, p int"
    first = spark.createDataFrame([(i, f"n{i % 16}", i % 8) for i in range(16)], schema)
    table = _table(spark, first.coalesce(1), partition_by=["p"])
    model = {i: (f"n{i % 16}", i % 8, None) for i in range(16)}
    for b in range(1, 5):
        rows = [(b * 100 + i, f"n{i}", i % 8) for i in range(16)]
        table.append(spark.createDataFrame(rows, schema).coalesce(1))
        model.update({r[0]: (r[1], r[2], None) for r in rows})
    dest = tempfile.mkdtemp(prefix="iceexp_meta_")
    iceberg_export.export_iceberg(table, dest)
    # keyed on "name", which the rename below turns into an alias
    iceberg_export.delete_where_iceberg(
        spark, dest, F.col("name") == "n3", ["name"]
    )
    model = {k: v for k, v in model.items() if v[0] != "n3"}
    iceberg_export.evolve_schema_iceberg(
        dest, add={"extra": "long"}, rename={"name": "label"}
    )
    late = [(900, "n3", 3, 7), (901, "n5", 5, 8)]
    iceberg_export.append_iceberg(
        spark,
        dest,
        spark.createDataFrame(late, "id long, label string, p int, extra long"),
    )
    model.update({r[0]: r[1:] for r in late})
    iceberg_export.delete_where_iceberg(
        spark, dest, F.col("label") == "n5", ["label"]
    )
    model = {k: v for k, v in model.items() if v[0] != "n5"}

    data_files, kinds = _live_files(dest)
    assert len(data_files) > 32 and len(kinds) == 1
    doc = iceberg_export._load_metadata(dest)
    mapping = json.loads(doc["properties"]["schema.name-mapping.default"])
    assert any(set(m["names"]) == {"name", "label"} for m in mapping)

    df, tasks = _jobs_started(spark, lambda: iceberg_export.read_iceberg(spark, dest))
    assert len(tasks) == 1 and tasks[0] <= cores, tasks
    assert df.columns == ["id", "label", "p", "extra"]
    assert sorted(map(tuple, df.collect())) == sorted(
        (k, *v) for k, v in model.items()
    )

    p3, tasks = _jobs_started(
        spark, lambda: iceberg_export.read_iceberg(spark, dest, eq_filters={"p": 3})
    )
    assert tasks == []
    assert sorted(map(tuple, p3.collect())) == sorted(
        (k, *v) for k, v in model.items() if v[1] == 3
    )


# ---------------------------------------------------------------------------
# append_iceberg — incremental commits onto an exported table
# ---------------------------------------------------------------------------

def test_append_iceberg_roundtrip_and_time_travel(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation.filter(F.col("n_nationkey") < 20))
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    extra = nation.filter(F.col("n_nationkey") >= 20).coalesce(1)
    info = iceberg_export.append_iceberg(spark, dest, extra)
    assert info["records"] == 5 and info["sequence-number"] == 2
    got = sorted(
        r.n_nationkey
        for r in iceberg_export.read_iceberg(spark, dest).collect()
    )
    assert got == list(range(25))
    # time travel: the pre-append snapshot still reads exactly
    doc = iceberg_export._load_metadata(dest)
    assert len(doc["snapshots"]) == 2
    first = doc["snapshots"][0]["snapshot-id"]
    old = iceberg_export.read_iceberg(spark, dest, snapshot_id=first)
    assert sorted(r.n_nationkey for r in old.collect()) == list(range(20))
    # the hint advanced and the metadata log chains back to v1
    with open(f"{dest}/metadata/version-hint.text") as fh:
        assert fh.read().strip() == "2"
    assert doc["metadata-log"][-1]["metadata-file"].endswith("v1.metadata.json")


def test_append_iceberg_stacks_and_preserves_delete_scoping(spark, sf_dir):
    """Appending AFTER a MOR equality delete must not resurrect deleted
    rows, and a re-appended key must SURVIVE (the new files carry a
    strictly larger sequence than the delete)."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    table.delete_where_mor(spark, F.col("n_regionkey") == 0, ["n_regionkey"])
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    # re-append one row whose region the delete targeted
    reborn = nation.filter(F.col("n_nationkey") == 0).withColumn(
        "n_name", F.lit("REBORN")
    ).coalesce(1)
    iceberg_export.append_iceberg(spark, dest, reborn)
    rows = {r.n_nationkey: r.n_name
            for r in iceberg_export.read_iceberg(spark, dest).collect()}
    want = {r.n_nationkey for r in nation.filter(F.col("n_regionkey") != 0).collect()}
    assert set(rows) == want | {0}
    assert rows[0] == "REBORN"  # newer sequence -> the old delete skips it
    # a second append stacks on the first
    more = nation.filter(F.col("n_nationkey") == 1).withColumn(
        "n_name", F.lit("TWICE")
    ).coalesce(1)
    iceberg_export.append_iceberg(spark, dest, more)
    doc = iceberg_export._load_metadata(dest)
    assert len(doc["snapshots"]) == 3
    assert doc["last-sequence-number"] == 4
    n1 = [r.n_name for r in iceberg_export.read_iceberg(spark, dest)
          .filter(F.col("n_nationkey") == 1).collect()]
    assert sorted(n1)[-1] == "TWICE" and len(n1) == 2  # plain append: both rows


def test_append_iceberg_schema_mismatch_refused(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    flat = _table(spark, nation)
    dest2 = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(flat, dest2)
    with pytest.raises(ValueError, match="schema mismatch"):
        iceberg_export.append_iceberg(
            spark, dest2, nation.select("n_nationkey", "n_name")
        )


def test_append_iceberg_identity_partitioned(spark, sf_dir):
    """Appending into an identity-partitioned export lays the new files
    out hive-style (source column dropped from the files, exactly the
    export shape) and records the typed partition tuple in the new
    manifest — the reader must fill the identity column back from it."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(
        spark,
        nation.filter(F.col("n_nationkey") < 20),
        partition_by=["n_regionkey"],
    )
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    extra = nation.filter(F.col("n_nationkey") >= 20).coalesce(1)
    iceberg_export.append_iceberg(spark, dest, extra)
    got = {
        (r.n_nationkey, r.n_regionkey)
        for r in iceberg_export.read_iceberg(spark, dest).collect()
    }
    want = {(r.n_nationkey, r.n_regionkey) for r in nation.collect()}
    assert got == want  # identity values filled from the NEW manifest too


def test_append_iceberg_bucket_partitioned_keeps_pruning(spark, sf_dir):
    """Appending into a murmur3 bucket[N] export records the spec bucket
    id for each new file, so an external engine's (and read_iceberg's)
    bucket pruning keeps working across the incremental boundary."""
    from iceberg_relative_io_spark.catalog import avro_ocf
    from iceberg_relative_io_spark.catalog.bucket_hash import bucket_value

    nation = load_table(spark, sf_dir, "nation")
    table = _table(
        spark,
        nation.filter(F.col("n_nationkey") < 20),
        partition_by=["bucket(4, n_nationkey)"],
    )
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    extra = nation.filter(F.col("n_nationkey") >= 20).coalesce(1)
    iceberg_export.append_iceberg(spark, dest, extra)
    got = sorted(
        r.n_nationkey for r in iceberg_export.read_iceberg(spark, dest).collect()
    )
    assert got == list(range(25))
    # the appended manifest carries spec murmur3 bucket ids per file
    doc = iceberg_export._load_metadata(dest)
    snap = next(
        s for s in doc["snapshots"]
        if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    with open(snap["manifest-list"], "rb") as fh:
        _, _, mls = avro_ocf.read_ocf(fh.read())
    newest = max(mls, key=lambda m: m["sequence_number"])
    with open(newest["manifest_path"], "rb") as fh:
        _, _, entries = avro_ocf.read_ocf(fh.read())
    import pyarrow.parquet as pq

    for e in entries:
        part = e["data_file"]["partition"]
        bucket = next(iter(part.values()))
        t = pq.read_table(e["data_file"]["file_path"])
        for key in t["n_nationkey"].to_pylist():
            assert bucket_value(key, 4) == bucket
    # point read prunes by bucket and still finds the appended key
    hit = iceberg_export.read_iceberg(
        spark, dest, eq_filters={"n_nationkey": 22}
    ).collect()
    assert [r.n_nationkey for r in hit] == [22]


def test_append_iceberg_concurrent_commit_raises(spark, sf_dir):
    """The commit CAS refuses a version another writer already claimed
    (never a silent overwrite); a committer that merely starts from a
    stale hint FORWARD-PROBES to the real head instead of failing — and
    a corrupt/empty hint recovers by directory scan (A25/A28 parity)."""
    import os
    import shutil

    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    _ops, doc, version = iceberg_export._open_mirror(dest)
    assert version == 1
    # a racing winner claimed v2 (complete, valid content)
    shutil.copyfile(
        os.path.join(dest, "metadata", "v1.metadata.json"),
        os.path.join(dest, "metadata", "v2.metadata.json"),
    )
    # the CAS itself refuses the claimed slot
    with pytest.raises(ValueError, match="concurrent commit"):
        iceberg_export._commit_mirror(
            iceberg_export._mirror_ops(dest), version, doc, dict(doc)
        )
    # but a fresh committer probes PAST the stale hint and lands v3
    info = iceberg_export.append_iceberg(
        spark, dest, nation.limit(1).coalesce(1)
    )
    assert info["metadata"].endswith("v3.metadata.json")
    # corrupt hint: reads recover via forward probe + directory scan
    with open(os.path.join(dest, "metadata", "version-hint.text"), "w") as fh:
        fh.write("")  # torn hint
    assert iceberg_export._mirror_ops(dest).find_version() == 3
    assert iceberg_export.read_iceberg(spark, dest).count() == nation.count() + 1


def test_append_iceberg_gzip_metadata(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation.filter(F.col("n_nationkey") < 10))
    table.set_properties({"write.metadata.compression": "gzip"})
    table.ops._should_refresh = True
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    extra = nation.filter(F.col("n_nationkey") == 10).coalesce(1)
    info = iceberg_export.append_iceberg(spark, dest, extra)
    assert info["metadata"].endswith("v2.gz.metadata.json")
    got = sorted(r.n_nationkey
                 for r in iceberg_export.read_iceberg(spark, dest).collect())
    assert got == list(range(11))


def test_rewrite_manifests_iceberg_merges_and_preserves_scoping(spark, sf_dir):
    """After K incremental appends the manifest list holds K+1 data
    manifests; the rewrite merges them into ONE while preserving each
    entry's original sequence number, so the pre-existing equality
    delete keeps scoping exactly (deleted key stays gone, the key
    re-inserted by a later append survives) and time travel to the
    pre-rewrite snapshot is untouched."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    table.delete_where_mor(spark, F.col("n_nationkey") == 3, ["n_nationkey"])
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    reborn = nation.filter(F.col("n_nationkey") == 3).withColumn(
        "n_name", F.lit("REBORN")
    ).coalesce(1)
    iceberg_export.append_iceberg(spark, dest, reborn)
    iceberg_export.append_iceberg(
        spark, dest, nation.limit(0).coalesce(1)
    )  # empty batch: still a commit, but it lists no manifest
    want = sorted(
        (r.n_nationkey, "REBORN" if r.n_nationkey == 3 else r.n_name)
        for r in nation.collect()
    )

    def ml_counts():
        doc = iceberg_export._load_metadata(dest)
        snap = next(
            s for s in doc["snapshots"]
            if s["snapshot-id"] == doc["current-snapshot-id"]
        )
        with open(snap["manifest-list"], "rb") as fh:
            _, _, mls = avro_ocf.read_ocf(fh.read())
        return (
            sum(1 for m in mls if m["content"] == 0),
            sum(1 for m in mls if m["content"] == 1),
            doc,
        )

    n_data, n_del, doc = ml_counts()
    assert n_data == 2 and n_del == 1  # export + reborn, 1 delete mf
    pre_rewrite_head = doc["current-snapshot-id"]

    info = iceberg_export.rewrite_manifests_iceberg(dest)
    assert info["merged-manifests"] == 2
    n_data, n_del, doc = ml_counts()
    assert n_data == 1 and n_del == 1  # merged + the carried delete mf
    got = sorted(
        (r.n_nationkey, r.n_name)
        for r in iceberg_export.read_iceberg(spark, dest).collect()
    )
    assert got == want
    # merged entries are EXISTING with their original sequences intact
    snap = next(
        s for s in doc["snapshots"]
        if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    with open(snap["manifest-list"], "rb") as fh:
        _, _, mls = avro_ocf.read_ocf(fh.read())
    merged_mf = next(m for m in mls if m["content"] == 0)
    with open(merged_mf["manifest_path"], "rb") as fh:
        _, _, entries = avro_ocf.read_ocf(fh.read())
    assert all(e["status"] == 0 for e in entries)
    assert {e["sequence_number"] for e in entries} == {1, 3}  # base + reborn
    # time travel to the pre-rewrite head still reads through old manifests
    old = iceberg_export.read_iceberg(spark, dest, snapshot_id=pre_rewrite_head)
    assert sorted(
        (r.n_nationkey, r.n_name) for r in old.collect()
    ) == want


def test_expire_snapshots_iceberg_reaps_metadata_not_source_files(spark, sf_dir):
    """Expire after append+rewrite: old manifest lists and the merged-away
    per-commit manifests are reaped, every data file stays (still
    referenced by the merged manifest), reads are identical, time travel
    to an expired snapshot fails, and the zero-copy SOURCE files outside
    the mirror are never touched."""
    import os

    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation.filter(F.col("n_nationkey") < 20))
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    iceberg_export.append_iceberg(
        spark, dest, nation.filter(F.col("n_nationkey") >= 20).coalesce(1)
    )
    iceberg_export.rewrite_manifests_iceberg(dest)
    doc = iceberg_export._load_metadata(dest)
    assert len(doc["snapshots"]) == 3
    expired_ids = [s["snapshot-id"] for s in doc["snapshots"][:-1]]
    old_mls = [s["manifest-list"] for s in doc["snapshots"][:-1]]
    # a zero-copy source file referenced only via the chain
    src_file = next(
        f["path"] for f in [
            {"path": e["data_file"]["file_path"]}
            for e in _head_entries(dest)
        ] if not os.path.realpath(f["path"]).startswith(os.path.realpath(dest))
    )

    info = iceberg_export.expire_snapshots_iceberg(dest, keep_last=1)
    assert info["expired"] == 2
    doc = iceberg_export._load_metadata(dest)
    assert len(doc["snapshots"]) == 1
    got = sorted(
        r.n_nationkey for r in iceberg_export.read_iceberg(spark, dest).collect()
    )
    assert got == list(range(25))
    for ml in old_mls:
        assert not os.path.exists(ml)  # expired manifest lists reaped
    assert os.path.exists(src_file)  # zero-copy source data untouched
    with pytest.raises(StopIteration):
        iceberg_export.read_iceberg(spark, dest, snapshot_id=expired_ids[0])


def _head_entries(dest):
    doc = iceberg_export._load_metadata(dest)
    snap = next(
        s for s in doc["snapshots"]
        if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    with open(snap["manifest-list"], "rb") as fh:
        _, _, mls = avro_ocf.read_ocf(fh.read())
    entries = []
    for mf in mls:
        with open(mf["manifest_path"], "rb") as fh:
            _, _, es = avro_ocf.read_ocf(fh.read())
        entries += es
    return entries


def test_expire_snapshots_iceberg_keeps_delete_scoping(spark, sf_dir):
    """Expiring down to the head of a mirror that carries a live MOR
    delete + a post-delete append keeps the delete file, its manifest,
    and the scoping (deleted key gone, re-appended key alive)."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    table.delete_where_mor(spark, F.col("n_nationkey") == 5, ["n_nationkey"])
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    reborn = nation.filter(F.col("n_nationkey") == 5).withColumn(
        "n_name", F.lit("REBORN")
    ).coalesce(1)
    iceberg_export.append_iceberg(spark, dest, reborn)
    iceberg_export.expire_snapshots_iceberg(dest, keep_last=1)
    rows = {r.n_nationkey: r.n_name
            for r in iceberg_export.read_iceberg(spark, dest).collect()}
    assert rows[5] == "REBORN" and len(rows) == 25


def test_delete_where_iceberg_matching_nothing_commits_nothing(spark):
    """A mirror equality delete whose predicate matches no row commits
    nothing: the snapshot count, ``last-sequence-number`` and metadata
    version stay as they were, and it returns the no-op shape of
    ``delete_positions_iceberg``."""
    df = spark.createDataFrame([(i, f"n{i}") for i in range(4)], "id long, name string")
    dest = tempfile.mkdtemp(prefix="iceexp_noop_del_")
    iceberg_export.export_iceberg(_table(spark, df), dest)

    def state():
        doc = iceberg_export._load_metadata(dest)
        return (
            len(doc["snapshots"]),
            doc["last-sequence-number"],
            iceberg_export._mirror_ops(dest).find_version(),
        )

    before = state()
    info = iceberg_export.delete_where_iceberg(spark, dest, F.col("id") > 100, ["id"])
    assert state() == before
    noop = iceberg_export.delete_positions_iceberg(spark, dest, F.col("id") > 100)
    assert info == noop and info["metadata"] is None
    assert state() == before


def _both_tiers(spark, dest, monkeypatch) -> list[list[tuple]]:
    """The mirror's rows as the driver-built delete tier reads them and
    as the Spark-scan tier (caps forced to 0) does, each sorted."""
    def rows():
        got = iceberg_export.read_iceberg(spark, dest).collect()
        return sorted(map(tuple, got), key=repr)

    local = rows()
    with monkeypatch.context() as m:
        m.setattr(scan, "_BROADCAST_DELETE_MAX_BYTES", 0)
        m.setattr(scan, "_BROADCAST_DELETE_MAX_ROWS", 0)
        return [local, rows()]


def test_mirror_delete_and_merge_match_null_keys(spark, monkeypatch):
    """A mirror equality delete whose key tuple holds NULL deletes every
    row whose key IS NULL (the spec's ``IS NULL`` rule) in both read
    tiers, and a merge afterwards still inserts NULL-key source rows."""
    schema = "id long, name string"
    df = spark.createDataFrame([(1, "a"), (None, "b"), (None, "c"), (2, "d")], schema)
    dest = tempfile.mkdtemp(prefix="iceexp_nullkey_")
    iceberg_export.export_iceberg(_table(spark, df), dest)
    iceberg_export.delete_where_iceberg(spark, dest, F.col("name") == "b", ["id"])
    for got in _both_tiers(spark, dest, monkeypatch):
        assert got == [(1, "a"), (2, "d")]
    source = spark.createDataFrame([(None, "n"), (2, "D")], schema)
    iceberg_export.merge_iceberg(spark, dest, source, ["id"])
    want = sorted([(1, "a"), (2, "D"), (None, "n")], key=repr)
    for got in _both_tiers(spark, dest, monkeypatch):
        assert got == want


def test_mirror_update_of_null_key_row_leaves_one_copy(spark, monkeypatch):
    """``update_where_iceberg`` on a row whose key is NULL replaces it:
    the equality delete matches the NULL key, so the old and the new
    copy are not both left, in either read tier."""
    schema = "id long, name string"
    df = spark.createDataFrame([(1, "a"), (None, "b"), (2, "c")], schema)
    dest = tempfile.mkdtemp(prefix="iceexp_nullkey_upd_")
    iceberg_export.export_iceberg(_table(spark, df), dest)
    iceberg_export.update_where_iceberg(
        spark, dest, F.col("name") == "b", {"name": F.lit("B")}, ["id"]
    )
    want = sorted([(1, "a"), (None, "B"), (2, "c")], key=repr)
    for got in _both_tiers(spark, dest, monkeypatch):
        assert got == want


def test_mirror_typed_equality_delete_keys_read_alike_in_both_tiers(
    spark, monkeypatch, typed_keys
):
    """The mirror twin of the native typed-key test: equality deletes
    keyed on date, timestamp (year 3000, which Spark writes as INT96),
    decimal(38,10), unicode string, binary, boolean and NULL values,
    one key column renamed between two deletes, read the same rows in
    the driver-built tier and the Spark-scan tier, matching a NULL-safe
    model."""
    df = spark.createDataFrame(typed_keys.rows, typed_keys.schema)
    dest = tempfile.mkdtemp(prefix="iceexp_typed_")
    iceberg_export.export_iceberg(_table(spark, df), dest)
    cols = df.columns
    want = [tuple(r) for r in df.collect()]
    for keys, ids in typed_keys.deletes:
        iceberg_export.delete_where_iceberg(spark, dest, F.col("id").isin(*ids), keys)
        want = typed_keys.model(want, cols, keys, ids)
    iceberg_export.evolve_schema_iceberg(dest, rename={"s": "s2"})
    cols = [("s2" if c == "s" else c) for c in cols]
    iceberg_export.delete_where_iceberg(spark, dest, F.col("id") == 2, ["dec", "s2"])
    want = typed_keys.model(want, cols, ["dec", "s2"], {2})
    back = [r for r in typed_keys.rows if r[0] == 5]
    iceberg_export.append_iceberg(
        spark, dest,
        spark.createDataFrame(back, iceberg_export.read_iceberg(spark, dest).schema),
    )
    want = sorted(want + back, key=repr)
    local, scanned = _both_tiers(spark, dest, monkeypatch)
    assert local == scanned == want
    assert sorted(r[0] for r in local) == [0, 5, 7, 10, 11]


def test_delete_where_iceberg_mor_commit(spark, sf_dir):
    """Distributed MOR equality delete committed directly on a mirror:
    matching keys vanish, a key appended AFTER the delete survives
    (strictly-older scoping), the delete survives a manifest rewrite,
    and unknown equality columns are refused."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    info = iceberg_export.delete_where_iceberg(
        spark, dest, F.col("n_regionkey") == 2, ["n_regionkey"]
    )
    assert info["delete-records"] == 1  # one distinct key tuple
    want = sorted(
        r.n_nationkey
        for r in nation.filter(F.col("n_regionkey") != 2).collect()
    )
    got = sorted(
        r.n_nationkey for r in iceberg_export.read_iceberg(spark, dest).collect()
    )
    assert got == want
    # a row with the deleted key appended later survives
    reborn = nation.filter(F.col("n_nationkey") == 8).coalesce(1)  # region 2
    assert reborn.count() == 1
    iceberg_export.append_iceberg(spark, dest, reborn)
    got = sorted(
        r.n_nationkey for r in iceberg_export.read_iceberg(spark, dest).collect()
    )
    assert got == sorted(want + [8])
    # the delete manifest rides through a rewrite untouched
    iceberg_export.rewrite_manifests_iceberg(dest)
    got2 = sorted(
        r.n_nationkey for r in iceberg_export.read_iceberg(spark, dest).collect()
    )
    assert got2 == got
    with pytest.raises(ValueError, match="not in schema"):
        iceberg_export.delete_where_iceberg(
            spark, dest, F.col("n_nationkey") > 0, ["nope"]
        )


def test_compact_iceberg_materializes_deletes_then_expire_reaps(spark, sf_dir):
    """compact: equality + position deletes materialize into fresh data
    files, the REPLACE snapshot carries no delete manifests, and a
    subsequent expire physically reaps the superseded mirror-owned files
    (the pre-compact appended batch) while zero-copy source files
    survive. Compaction also unlocks import_iceberg on a
    position-deleted mirror."""
    import os

    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    iceberg_export.delete_where_iceberg(
        spark, dest, F.col("n_regionkey") == 1, ["n_regionkey"]
    )
    iceberg_export.write_position_deletes(
        dest, {_first_data_file(dest): [0]}
    )  # also drop the first row of the first file by position
    iceberg_export.append_iceberg(
        spark, dest,
        nation.filter(F.col("n_regionkey") == 1).limit(1).coalesce(1),
    )  # one reborn region-1 row, newer than the delete
    want = sorted(
        r.n_nationkey
        for r in iceberg_export.read_iceberg(spark, dest).collect()
    )
    old_files = [
        e["data_file"]["file_path"] for e in _head_entries(dest)
        if e["data_file"]["content"] == 0
    ]
    appended_files = [p for p in old_files if p.startswith(os.path.realpath(dest))]
    source_files = [p for p in old_files if not p.startswith(os.path.realpath(dest))]
    assert appended_files and source_files

    info = iceberg_export.compact_iceberg(spark, dest)
    assert info["records"] == len(want)
    got = sorted(
        r.n_nationkey for r in iceberg_export.read_iceberg(spark, dest).collect()
    )
    assert got == want
    doc = iceberg_export._load_metadata(dest)
    snap = next(
        s for s in doc["snapshots"]
        if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    with open(snap["manifest-list"], "rb") as fh:
        _, _, mls = avro_ocf.read_ocf(fh.read())
    assert [m["content"] for m in mls] == [0]  # deletes materialized away

    iceberg_export.expire_snapshots_iceberg(dest, keep_last=1)
    got = sorted(
        r.n_nationkey for r in iceberg_export.read_iceberg(spark, dest).collect()
    )
    assert got == want
    for p in appended_files:
        assert not os.path.exists(p)  # superseded mirror-owned file reaped
    for p in source_files:
        assert os.path.exists(p)  # zero-copy source data never touched

    # a compacted (formerly position-deleted) mirror imports zero-copy
    cat = FsCatalog(tempfile.mkdtemp(prefix="iceexp_wh_"))
    cat.create_namespace(("imp",))
    imported = iceberg_export.import_iceberg(spark, cat, ("imp",), "t", dest)
    got = sorted(r.n_nationkey for r in imported.read(spark).collect())
    assert got == want


def test_update_where_iceberg_atomic_mor_update(spark, sf_dir):
    """Atomic MOR UPDATE on a mirror: ONE snapshot carries both the
    equality-delete manifest and the replacement data manifest at the
    same sequence number, so the strict-< scoping erases the old copies
    while keeping the rewritten rows. Non-matching rows untouched; the
    update survives a manifest rewrite; SET on a key column and unknown
    columns are refused."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    n_before = len(iceberg_export._load_metadata(dest)["snapshots"])
    info = iceberg_export.update_where_iceberg(
        spark,
        dest,
        F.col("n_regionkey") == 2,
        {"n_name": F.lit("UPDATED"), "n_regionkey": F.col("n_regionkey") + 100},
        ["n_nationkey"],
    )
    n_region2 = nation.filter(F.col("n_regionkey") == 2).count()
    assert info["updated-records"] == n_region2
    assert info["delete-records"] == n_region2
    doc = iceberg_export._load_metadata(dest)
    assert len(doc["snapshots"]) == n_before + 1  # exactly one commit
    got = {
        r.n_nationkey: (r.n_name, r.n_regionkey)
        for r in iceberg_export.read_iceberg(spark, dest).collect()
    }
    for r in nation.collect():
        if r.n_regionkey == 2:
            assert got[r.n_nationkey] == ("UPDATED", 102)
        else:
            assert got[r.n_nationkey] == (r.n_name, r.n_regionkey)
    assert len(got) == nation.count()
    # one snapshot = one manifest-list: delete (content=1) + data (content=0)
    snap = next(
        s for s in doc["snapshots"] if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    with open(snap["manifest-list"], "rb") as fh:
        _, _, mls = avro_ocf.read_ocf(fh.read())
    new = [m for m in mls if m["added_snapshot_id"] == info["snapshot-id"]]
    assert sorted(m["content"] for m in new) == [0, 1]
    assert all(m["sequence_number"] == info["sequence-number"] for m in new)
    # survives rewrite_manifests
    iceberg_export.rewrite_manifests_iceberg(dest)
    got2 = {
        r.n_nationkey: (r.n_name, r.n_regionkey)
        for r in iceberg_export.read_iceberg(spark, dest).collect()
    }
    assert got2 == got
    with pytest.raises(ValueError, match="equality key"):
        iceberg_export.update_where_iceberg(
            spark, dest, F.col("n_nationkey") == 1,
            {"n_nationkey": F.lit(99)}, ["n_nationkey"],
        )
    with pytest.raises(ValueError, match="not in schema"):
        iceberg_export.update_where_iceberg(
            spark, dest, F.col("n_nationkey") == 1,
            {"nope": F.lit(1)}, ["n_nationkey"],
        )
    with pytest.raises(ValueError, match="column type"):
        iceberg_export.update_where_iceberg(
            spark, dest, F.col("n_nationkey") == 1,
            {"n_name": F.lit(7)}, ["n_nationkey"],
        )


def test_update_where_iceberg_no_match_commits_nothing(spark, sf_dir):
    """An UPDATE whose predicate matches nothing writes no snapshot and
    leaves the version hint where it was."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    with open(f"{dest}/metadata/version-hint.text") as fh:
        v_before = fh.read().strip()
    info = iceberg_export.update_where_iceberg(
        spark, dest, F.col("n_nationkey") < 0,
        {"n_name": F.lit("X")}, ["n_nationkey"],
    )
    assert info["updated-records"] == 0 and info["snapshot-id"] is None
    with open(f"{dest}/metadata/version-hint.text") as fh:
        assert fh.read().strip() == v_before
    assert iceberg_export.read_iceberg(spark, dest).count() == nation.count()


def test_update_where_iceberg_partitioned_layout(spark, sf_dir):
    """UPDATE on a partitioned mirror: the replacement rows land in the
    partition layout their NEW values dictate (identity partition moves
    with the update), and manifest partition tuples stay typed."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation, partition_by=["n_regionkey"])
    dest = tempfile.mkdtemp(prefix="iceexp_out_")
    iceberg_export.export_iceberg(table, dest)
    iceberg_export.update_where_iceberg(
        spark, dest, F.col("n_regionkey") == 0,
        {"n_regionkey": F.lit(7)}, ["n_nationkey"],
    )
    df = iceberg_export.read_iceberg(spark, dest)
    assert df.filter(F.col("n_regionkey") == 0).count() == 0
    n_moved = nation.filter(F.col("n_regionkey") == 0).count()
    assert df.filter(F.col("n_regionkey") == 7).count() == n_moved
    # partition pruning on the new value finds the moved rows
    pruned = iceberg_export.read_iceberg(spark, dest, eq_filters={"n_regionkey": 7})
    assert pruned.filter(F.col("n_regionkey") == 7).count() == n_moved


def test_mirror_committers_race_and_retry_both_land(spark, sf_dir):
    """Optimistic-commit composition under real contention: N threads
    each append their own batch to the mirror, retrying on the
    ValueError conflict (reload happens inside append_iceberg). Every
    batch must land exactly once, snapshot ids and sequence numbers must
    be distinct and dense, and the final read must be the union — the
    same contract the native TableOperations commit-race tests pin, here
    on the exported-v2 commit path (os.link create-if-absent CAS)."""
    import threading

    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation.filter(F.col("n_nationkey") < 5))
    dest = tempfile.mkdtemp(prefix="iceexp_race_")
    iceberg_export.export_iceberg(table, dest)

    batches = {
        i: nation.filter(F.col("n_nationkey") == 5 + i).coalesce(1)
        for i in range(4)
    }
    results: dict[int, dict] = {}
    errors: list[Exception] = []

    def commit(i: int) -> None:
        for _attempt in range(25):
            try:
                results[i] = iceberg_export.append_iceberg(spark, dest, batches[i])
                return
            except ValueError as exc:
                if "concurrent commit" not in str(exc):
                    errors.append(exc)
                    return
        errors.append(RuntimeError(f"batch {i} never committed"))

    threads = [threading.Thread(target=commit, args=(i,)) for i in batches]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert len(results) == len(batches)
    snap_ids = sorted(r["snapshot-id"] for r in results.values())
    seqs = sorted(r["sequence-number"] for r in results.values())
    assert len(set(snap_ids)) == len(batches)  # no snapshot id reused
    assert seqs == list(range(seqs[0], seqs[0] + len(batches)))  # dense
    got = sorted(
        r.n_nationkey for r in iceberg_export.read_iceberg(spark, dest).collect()
    )
    assert got == list(range(9))  # 0-4 base + 5-8 appended, each exactly once


# ---------------------------------------------------------------------------
# merge_iceberg
# ---------------------------------------------------------------------------


def test_merge_iceberg_upsert(spark, sf_dir):
    """Atomic MERGE (upsert) on a mirror: ONE snapshot carries the
    equality-delete manifest for the matched keys plus the data manifest
    with the full source (updates + inserts) at the same sequence
    number. Matched rows take the source values, unmatched targets are
    untouched, unmatched source rows are inserted — and the merge
    survives a manifest rewrite."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_merge_")
    iceberg_export.export_iceberg(table, dest)
    n_before = len(iceberg_export._load_metadata(dest)["snapshots"])

    updates = nation.filter(F.col("n_regionkey") == 1).withColumn(
        "n_name", F.lit("MERGED")
    )
    inserts = spark.createDataFrame(
        [(90, "ATLANTIS", 0), (91, "LEMURIA", 1)],
        schema=nation.schema,
    )
    info = iceberg_export.merge_iceberg(
        spark, dest, updates.unionByName(inserts), ["n_nationkey"]
    )
    n_matched = nation.filter(F.col("n_regionkey") == 1).count()
    assert info["delete-records"] == n_matched
    assert info["merged-records"] == n_matched + 2

    doc = iceberg_export._load_metadata(dest)
    assert len(doc["snapshots"]) == n_before + 1  # exactly one commit
    snap = next(
        s for s in doc["snapshots"] if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    assert snap["summary"]["operation"] == "overwrite"
    with open(snap["manifest-list"], "rb") as fh:
        _, _, mls = avro_ocf.read_ocf(fh.read())
    new = [m for m in mls if m["added_snapshot_id"] == info["snapshot-id"]]
    assert sorted(m["content"] for m in new) == [0, 1]
    assert all(m["sequence_number"] == info["sequence-number"] for m in new)

    got = {
        r.n_nationkey: r.n_name
        for r in iceberg_export.read_iceberg(spark, dest).collect()
    }
    assert len(got) == nation.count() + 2
    assert got[90] == "ATLANTIS" and got[91] == "LEMURIA"
    for r in nation.collect():
        assert got[r.n_nationkey] == ("MERGED" if r.n_regionkey == 1 else r.n_name)

    iceberg_export.rewrite_manifests_iceberg(dest)
    got2 = {
        r.n_nationkey: r.n_name
        for r in iceberg_export.read_iceberg(spark, dest).collect()
    }
    assert got2 == got


def test_merge_iceberg_clause_modes(spark, sf_dir):
    """when_matched='delete' removes matched targets (inserting or
    dropping the unmatched source per when_not_matched), and
    when_not_matched=None turns an upsert into a pure update."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_merge_")
    iceberg_export.export_iceberg(table, dest)

    # update-only: unmatched source rows are NOT inserted
    src = nation.filter(F.col("n_nationkey") < 3).withColumn(
        "n_name", F.lit("UPD")
    ).unionByName(
        spark.createDataFrame([(70, "GHOST", 0)], schema=nation.schema)
    )
    iceberg_export.merge_iceberg(
        spark, dest, src, ["n_nationkey"], when_not_matched=None
    )
    df = iceberg_export.read_iceberg(spark, dest)
    assert df.filter(F.col("n_nationkey") == 70).count() == 0
    assert df.filter(F.col("n_name") == "UPD").count() == 3
    assert df.count() == nation.count()

    # delete-matched + insert-unmatched in one commit
    src2 = nation.filter(F.col("n_nationkey") < 2).unionByName(
        spark.createDataFrame([(80, "MU", 2)], schema=nation.schema)
    )
    iceberg_export.merge_iceberg(
        spark, dest, src2, ["n_nationkey"], when_matched="delete"
    )
    df2 = iceberg_export.read_iceberg(spark, dest)
    assert df2.filter(F.col("n_nationkey") < 2).count() == 0
    assert df2.filter(F.col("n_nationkey") == 80).count() == 1
    assert df2.count() == nation.count() - 2 + 1

    # delete-matched only: the unmatched source row is discarded
    src3 = df2.filter(F.col("n_nationkey") == 80).unionByName(
        spark.createDataFrame([(81, "NOPE", 3)], schema=nation.schema)
    )
    iceberg_export.merge_iceberg(
        spark, dest, src3, ["n_nationkey"],
        when_matched="delete", when_not_matched=None,
    )
    df3 = iceberg_export.read_iceberg(spark, dest)
    assert df3.filter(F.col("n_nationkey").isin(80, 81)).count() == 0
    assert df3.count() == nation.count() - 2


def test_merge_iceberg_refusals_and_empty_source(spark, sf_dir):
    """Duplicate source keys, bad clause names, unknown key columns, and
    schema drift are refused up front; an empty source commits nothing
    and leaves the version hint in place."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_merge_")
    iceberg_export.export_iceberg(table, dest)
    with open(f"{dest}/metadata/version-hint.text") as fh:
        v_before = fh.read().strip()

    with pytest.raises(ValueError, match="duplicate"):
        iceberg_export.merge_iceberg(
            spark, dest,
            nation.limit(2).unionByName(nation.limit(1)),
            ["n_nationkey"],
        )
    with pytest.raises(ValueError, match="when_matched"):
        iceberg_export.merge_iceberg(
            spark, dest, nation, ["n_nationkey"], when_matched="upsert"
        )
    with pytest.raises(ValueError, match="not in schema"):
        iceberg_export.merge_iceberg(spark, dest, nation, ["nope"])
    with pytest.raises(Exception, match="schema mismatch|not in schema|resolve"):
        iceberg_export.merge_iceberg(
            spark, dest, nation.drop("n_name"), ["n_nationkey"]
        )

    info = iceberg_export.merge_iceberg(
        spark, dest, nation.filter(F.lit(False)), ["n_nationkey"]
    )
    assert info["snapshot-id"] is None and info["merged-records"] == 0
    with open(f"{dest}/metadata/version-hint.text") as fh:
        assert fh.read().strip() == v_before
    assert iceberg_export.read_iceberg(spark, dest).count() == nation.count()


def test_merge_iceberg_partitioned_layout(spark, sf_dir):
    """MERGE on a partitioned mirror lays replacement + inserted rows
    out in the partitions their values dictate, and pruning still
    finds them."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation, partition_by=["n_regionkey"])
    dest = tempfile.mkdtemp(prefix="iceexp_merge_")
    iceberg_export.export_iceberg(table, dest)
    src = nation.filter(F.col("n_regionkey") == 0).withColumn(
        "n_regionkey", F.lit(7)
    ).unionByName(
        spark.createDataFrame([(95, "NEWLAND", 7)], schema=nation.schema)
    )
    iceberg_export.merge_iceberg(spark, dest, src, ["n_nationkey"])
    df = iceberg_export.read_iceberg(spark, dest)
    n_moved = nation.filter(F.col("n_regionkey") == 0).count()
    assert df.filter(F.col("n_regionkey") == 0).count() == 0
    assert df.filter(F.col("n_regionkey") == 7).count() == n_moved + 1
    pruned = iceberg_export.read_iceberg(spark, dest, eq_filters={"n_regionkey": 7})
    assert pruned.filter(F.col("n_regionkey") == 7).count() == n_moved + 1


# ---------------------------------------------------------------------------
# overwrite_partitions_iceberg
# ---------------------------------------------------------------------------


def test_overwrite_partitions_iceberg_dynamic(spark, sf_dir):
    """Dynamic partition overwrite on a partitioned mirror: exactly the
    partitions the source rows land in are replaced (metadata-only
    DELETED entries, sequences preserved), untouched partitions survive,
    partition pruning still works, and the commit composes with a live
    equality delete on an untouched partition."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation, partition_by=["n_regionkey"])
    dest = tempfile.mkdtemp(prefix="iceexp_ow_")
    iceberg_export.export_iceberg(table, dest)
    # live MOR delete on an UNTOUCHED partition must keep applying
    iceberg_export.delete_where_iceberg(
        spark, dest, (F.col("n_regionkey") == 2) & (F.col("n_nationkey") % 2 == 0),
        ["n_nationkey"],
    )
    n_before = len(iceberg_export._load_metadata(dest)["snapshots"])

    src = spark.createDataFrame(
        [(50, "NEWA", 1), (51, "NEWB", 1), (52, "NEWC", 3)],
        schema=nation.schema,
    )
    info = iceberg_export.overwrite_partitions_iceberg(spark, dest, src)
    assert info["touched-partitions"] == 2
    assert info["records"] == 3
    n_r1 = nation.filter(F.col("n_regionkey") == 1).count()
    n_r3 = nation.filter(F.col("n_regionkey") == 3).count()
    assert info["replaced-records"] == n_r1 + n_r3

    doc = iceberg_export._load_metadata(dest)
    assert len(doc["snapshots"]) == n_before + 1  # exactly one commit
    snap = next(
        s for s in doc["snapshots"] if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    assert snap["summary"]["operation"] == "overwrite"
    assert snap["summary"]["replace-partitions"] == "true"

    df = iceberg_export.read_iceberg(spark, dest)
    assert sorted(
        r.n_nationkey for r in df.filter(F.col("n_regionkey").isin(1, 3)).collect()
    ) == [50, 51, 52]
    # untouched partitions: original rows minus the equality delete
    want_rest = sorted(
        r.n_nationkey
        for r in nation.filter(~F.col("n_regionkey").isin(1, 3)).collect()
        if not (r.n_regionkey == 2 and r.n_nationkey % 2 == 0)
    )
    assert sorted(
        r.n_nationkey for r in df.filter(~F.col("n_regionkey").isin(1, 3)).collect()
    ) == want_rest
    # pruning on a replaced partition sees only the new rows
    pruned = iceberg_export.read_iceberg(spark, dest, eq_filters={"n_regionkey": 1})
    assert sorted(
        r.n_nationkey for r in pruned.filter(F.col("n_regionkey") == 1).collect()
    ) == [50, 51]
    # metadata-only: the DELETED entries' rewrite carries sequences, so
    # a manifest rewrite after the overwrite must not change the view
    iceberg_export.rewrite_manifests_iceberg(dest)
    assert iceberg_export.read_iceberg(spark, dest).count() == df.count()


def test_overwrite_partitions_iceberg_unpartitioned_and_empty(spark, sf_dir):
    """On an unpartitioned mirror a dynamic overwrite degenerates to a
    full INSERT OVERWRITE; an empty source commits nothing."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_ow_")
    iceberg_export.export_iceberg(table, dest)
    src = spark.createDataFrame([(50, "ONLY", 9)], schema=nation.schema)
    info = iceberg_export.overwrite_partitions_iceberg(spark, dest, src)
    assert info["touched-partitions"] == 1
    got = iceberg_export.read_iceberg(spark, dest).collect()
    assert [(r.n_nationkey, r.n_name) for r in got] == [(50, "ONLY")]

    with open(f"{dest}/metadata/version-hint.text") as fh:
        v_before = fh.read().strip()
    info2 = iceberg_export.overwrite_partitions_iceberg(
        spark, dest, nation.filter(F.lit(False))
    )
    assert info2["snapshot-id"] is None
    with open(f"{dest}/metadata/version-hint.text") as fh:
        assert fh.read().strip() == v_before

    with pytest.raises(ValueError, match="schema mismatch"):
        iceberg_export.overwrite_partitions_iceberg(
            spark, dest, nation.drop("n_name")
        )


# ---------------------------------------------------------------------------
# refs + rollback
# ---------------------------------------------------------------------------


def test_refs_tag_branch_rollback(spark, sf_dir):
    """Named refs + rollback on a mirror: a tag pins the pre-append
    state and reads through ``ref=``; rollback moves main back
    metadata-only (snapshot list untouched, snapshot-log appended);
    commits after rollback keep working at the next sequence."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_refs_")
    iceberg_export.export_iceberg(table, dest)
    doc0 = iceberg_export._load_metadata(dest)
    base_sid = doc0["current-snapshot-id"]

    iceberg_export.set_ref_iceberg(dest, "v1", ref_type="tag")
    junk = spark.createDataFrame([(900, "JUNK", 0)], schema=nation.schema)
    iceberg_export.append_iceberg(spark, dest, junk)
    assert iceberg_export.read_iceberg(spark, dest).count() == nation.count() + 1
    # the tag still reads the pre-append state
    tagged = iceberg_export.read_iceberg(spark, dest, ref="v1")
    assert tagged.count() == nation.count()

    n_snaps = len(iceberg_export._load_metadata(dest)["snapshots"])
    info = iceberg_export.rollback_iceberg(dest, base_sid)
    assert info["rolled-back-from"] != base_sid
    doc = iceberg_export._load_metadata(dest)
    assert doc["current-snapshot-id"] == base_sid
    assert len(doc["snapshots"]) == n_snaps  # metadata-only: nothing removed
    assert doc["snapshot-log"][-1]["snapshot-id"] == base_sid
    assert iceberg_export.read_iceberg(spark, dest).count() == nation.count()

    # commits continue after a rollback
    iceberg_export.append_iceberg(
        spark, dest,
        spark.createDataFrame([(901, "AFTER", 1)], schema=nation.schema),
    )
    got = iceberg_export.read_iceberg(spark, dest)
    assert got.count() == nation.count() + 1
    assert got.filter(F.col("n_nationkey") == 900).count() == 0  # junk stays gone

    # refusals
    with pytest.raises(ValueError, match="rollback_iceberg"):
        iceberg_export.set_ref_iceberg(dest, "main")
    with pytest.raises(ValueError, match="refusing to drop"):
        iceberg_export.drop_ref_iceberg(dest, "main")
    with pytest.raises(ValueError, match="no such ref"):
        iceberg_export.drop_ref_iceberg(dest, "nope")
    with pytest.raises(ValueError, match="no such ref"):
        iceberg_export.read_iceberg(spark, dest, ref="nope")
    with pytest.raises(ValueError, match="not in table metadata"):
        iceberg_export.rollback_iceberg(dest, 10**9)
    with pytest.raises(ValueError, match="not in table metadata"):
        iceberg_export.set_ref_iceberg(dest, "t2", snapshot_id=10**9)
    iceberg_export.drop_ref_iceberg(dest, "v1")
    assert "v1" not in iceberg_export._load_metadata(dest)["refs"]


def test_expire_respects_refs(spark, sf_dir):
    """A tag protects its snapshot (and artifacts) from expiry; once the
    tag is dropped the next expiry reaps it."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation.filter(F.col("n_nationkey") < 10))
    dest = tempfile.mkdtemp(prefix="iceexp_refexp_")
    iceberg_export.export_iceberg(table, dest)
    tagged_sid = iceberg_export._load_metadata(dest)["current-snapshot-id"]
    iceberg_export.set_ref_iceberg(dest, "keepme", ref_type="tag")
    for k in range(3):
        iceberg_export.append_iceberg(
            spark, dest,
            spark.createDataFrame([(100 + k, f"X{k}", 0)], schema=nation.schema),
        )
    info = iceberg_export.expire_snapshots_iceberg(dest, keep_last=1)
    assert info["expired"] > 0
    doc = iceberg_export._load_metadata(dest)
    assert any(s["snapshot-id"] == tagged_sid for s in doc["snapshots"])
    assert iceberg_export.read_iceberg(spark, dest, ref="keepme").count() == 10

    iceberg_export.drop_ref_iceberg(dest, "keepme")
    iceberg_export.expire_snapshots_iceberg(dest, keep_last=1)
    doc2 = iceberg_export._load_metadata(dest)
    assert all(s["snapshot-id"] != tagged_sid for s in doc2["snapshots"])
    with pytest.raises(ValueError, match="not in table metadata"):
        iceberg_export.rollback_iceberg(dest, tagged_sid)


def test_merge_matched_keys_plan_broadcasts_source(spark, sf_dir):
    """100 TB plan shape for MERGE: the matched-key semi join must put
    the batch-sized source on the build side (BroadcastHashJoin
    LeftSemi) and never shuffle the table's key scan — the reversed
    order (source left-semi table) would make the full table the build
    side, which cannot broadcast and forces a table-wide key shuffle."""
    customer = load_table(spark, sf_dir, "customer")
    table = _table(spark, customer)
    dest = tempfile.mkdtemp(prefix="iceexp_mergeplan_")
    iceberg_export.export_iceberg(table, dest)
    target_keys = iceberg_export.read_iceberg(spark, dest).select("c_custkey")
    src = customer.limit(20)
    matched = iceberg_export._merge_matched_keys(target_keys, src, ["c_custkey"])
    matched.collect()
    plan = matched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# evolve_schema_iceberg
# ---------------------------------------------------------------------------


def test_evolve_schema_iceberg_add_rename_drop(spark, sf_dir):
    """Mirror-side schema evolution is metadata-only: add reads as
    typed NULL from pre-evolution files and as real values from later
    appends; rename resolves old files through the name mapping (and a
    pre-rename equality delete keeps applying); drop disappears even
    though old files still carry the column."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_evo_")
    iceberg_export.export_iceberg(table, dest)
    # a pre-evolution equality delete keyed on the soon-renamed column
    iceberg_export.delete_where_iceberg(
        spark, dest, F.col("n_nationkey") == 3, ["n_nationkey"]
    )

    info = iceberg_export.evolve_schema_iceberg(
        dest,
        add={"n_motto": "string", "n_pop": "long"},
        rename={"n_nationkey": "n_key"},
        drop=["n_regionkey"],
    )
    assert set(info["added"]) == {"n_motto", "n_pop"}

    df = iceberg_export.read_iceberg(spark, dest)
    assert df.columns == ["n_key", "n_name", "n_motto", "n_pop"]
    assert df.count() == nation.count() - 1  # the delete still applies
    assert df.filter(F.col("n_key") == 3).count() == 0
    assert df.filter(F.col("n_motto").isNull()).count() == df.count()

    # appends must carry the NEW schema and read back merged with nulls
    new = spark.createDataFrame(
        [(77, "NEWLAND", "onward", 12345)],
        schema="n_key int, n_name string, n_motto string, n_pop long",
    )
    iceberg_export.append_iceberg(spark, dest, new)
    df2 = iceberg_export.read_iceberg(spark, dest)
    assert df2.count() == nation.count()
    got = df2.filter(F.col("n_key") == 77).collect()[0]
    assert (got.n_motto, got.n_pop) == ("onward", 12345)
    # pre-evolution rows: renamed column carries the original values
    assert sorted(
        r.n_key for r in df2.filter(F.col("n_motto").isNull()).collect()
    ) == sorted(r.n_nationkey for r in nation.collect() if r.n_nationkey != 3)

    # a post-evolution delete keyed on the ADDED column kills only rows
    # that actually carry the value (old rows are NULL, never equal)
    iceberg_export.delete_where_iceberg(
        spark, dest, F.col("n_pop") == 12345, ["n_pop"]
    )
    assert iceberg_export.read_iceberg(spark, dest).count() == nation.count() - 1


def test_evolve_schema_iceberg_refusals(spark, sf_dir):
    """Unknown columns, clashes, name reuse, partition sources, and
    live-delete keys are refused with remedies."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation, partition_by=["n_regionkey"])
    dest = tempfile.mkdtemp(prefix="iceexp_evo_")
    iceberg_export.export_iceberg(table, dest)

    with pytest.raises(ValueError, match="nothing to evolve"):
        iceberg_export.evolve_schema_iceberg(dest)
    with pytest.raises(ValueError, match="no such column"):
        iceberg_export.evolve_schema_iceberg(dest, rename={"nope": "x"})
    with pytest.raises(ValueError, match="already in schema"):
        iceberg_export.evolve_schema_iceberg(dest, add={"n_name": "string"})
    with pytest.raises(ValueError, match="not a supported primitive"):
        iceberg_export.evolve_schema_iceberg(dest, add={"x": "struct"})
    with pytest.raises(ValueError, match="partition source"):
        iceberg_export.evolve_schema_iceberg(dest, drop=["n_regionkey"])
    with pytest.raises(ValueError, match="renamed and dropped"):
        iceberg_export.evolve_schema_iceberg(
            dest, rename={"n_name": "x"}, drop=["n_name"]
        )

    # dropping the key of a live equality delete is refused
    iceberg_export.delete_where_iceberg(
        spark, dest, F.col("n_nationkey") == 1, ["n_nationkey"]
    )
    with pytest.raises(ValueError, match="live equality delete"):
        iceberg_export.evolve_schema_iceberg(dest, drop=["n_nationkey"])
    # ...until compaction materializes it
    iceberg_export.compact_iceberg(spark, dest)
    iceberg_export.evolve_schema_iceberg(dest, drop=["n_nationkey"])
    df = iceberg_export.read_iceberg(spark, dest)
    assert df.columns == ["n_name", "n_regionkey"]
    assert df.count() == nation.count() - 1

    # a dropped column's name may not come back for a different field
    with pytest.raises(ValueError, match="historically belonged"):
        iceberg_export.evolve_schema_iceberg(dest, add={"n_nationkey": "long"})


def test_evolve_schema_iceberg_renamed_identity_partition(spark, sf_dir):
    """Renaming an identity-partition SOURCE column: the spec field name
    is frozen but the restored column takes the current name, and
    partition pruning by the new name still works."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation, partition_by=["n_regionkey"])
    dest = tempfile.mkdtemp(prefix="iceexp_evo_")
    iceberg_export.export_iceberg(table, dest)
    iceberg_export.evolve_schema_iceberg(dest, rename={"n_regionkey": "n_region"})
    df = iceberg_export.read_iceberg(spark, dest)
    assert "n_region" in df.columns and "n_regionkey" not in df.columns
    want = sorted(
        (r.n_nationkey, r.n_regionkey) for r in nation.collect()
    )
    assert sorted((r.n_nationkey, r.n_region) for r in df.collect()) == want
    pruned = iceberg_export.read_iceberg(spark, dest, eq_filters={"n_region": 2})
    n2 = nation.filter(F.col("n_regionkey") == 2).count()
    assert pruned.count() == n2


# ---------------------------------------------------------------------------
# min/max bounds + file skipping
# ---------------------------------------------------------------------------


def _head_data_entries(dest):
    doc = iceberg_export._load_metadata(dest)
    snap = next(
        s for s in doc["snapshots"] if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    with open(snap["manifest-list"], "rb") as fh:
        _, _, mls = avro_ocf.read_ocf(fh.read())
    out = []
    for mf in mls:
        if mf["content"] != 0:
            continue
        with open(mf["manifest_path"], "rb") as fh:
            _, _, es = avro_ocf.read_ocf(fh.read())
        out += [e for e in es if e["status"] != 2]
    return out


def test_bounds_written_and_point_read_skips_files(spark, sf_dir):
    """Export and append record spec min/max bounds (fields 125/128)
    from parquet footers for numeric/temporal columns, and a point read
    on a range-clustered column plans ~one file instead of all of them
    — the spec's file-skipping path. Strings get NO bounds (parquet may
    truncate string stats; a truncated upper bound would silently drop
    matching files)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    table = _table(spark, cust.repartitionByRange(6, "c_custkey"))
    dest = tempfile.mkdtemp(prefix="iceexp_bounds_")
    iceberg_export.export_iceberg(table, dest)

    entries = _head_data_entries(dest)
    assert len(entries) == 6
    assert all(e["data_file"].get("lower_bounds") for e in entries)
    # string column never gets bounds
    doc = iceberg_export._load_metadata(dest)
    schema = next(
        s for s in doc["schemas"] if s["schema-id"] == doc["current-schema-id"]
    )
    fbn = {f["name"]: f for f in schema["fields"]}
    name_fid = fbn["c_name"]["id"]
    for e in entries:
        assert all(
            b["key"] != name_fid for b in e["data_file"]["lower_bounds"]
        )

    probe = cust.orderBy("c_custkey").limit(1).collect()[0].c_custkey + 3
    kept = iceberg_export._stats_prune(entries, {"c_custkey": probe}, fbn)
    assert len(kept) == 1  # range clustering -> exactly one candidate file
    # and the end-to-end filtered read is correct
    got = iceberg_export.read_iceberg(
        spark, dest, eq_filters={"c_custkey": probe}
    ).collect()
    want = cust.filter(F.col("c_custkey") == probe).collect()
    assert len(got) == len(want)
    # a value outside every file's range prunes everything
    assert (
        iceberg_export._stats_prune(entries, {"c_acctbal": -1e9}, fbn) == []
    )
    # append path writes bounds too, and the new row is found
    new = spark.createDataFrame(
        [(99999999, "NEW", 1.0, 0)], schema=cust.schema
    )
    iceberg_export.append_iceberg(spark, dest, new)
    assert (
        iceberg_export.read_iceberg(
            spark, dest, eq_filters={"c_custkey": 99999999}
        ).count()
        == 1
    )


def test_bounds_survive_rewrite_and_missing_bounds_are_kept(spark, sf_dir):
    """rewrite_manifests carries bounds through; entries WITHOUT bounds
    (pre-bounds manifests — simulated by stripping) are always kept by
    the pruner, and the avro writer encodes their missing keys as null
    instead of crashing."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    table = _table(spark, cust.repartitionByRange(4, "c_custkey"))
    dest = tempfile.mkdtemp(prefix="iceexp_bounds_")
    iceberg_export.export_iceberg(table, dest)
    iceberg_export.append_iceberg(
        spark, dest,
        spark.createDataFrame([(55555555, "A", 2.0)], schema=cust.schema),
    )
    iceberg_export.rewrite_manifests_iceberg(dest)
    entries = _head_data_entries(dest)
    assert all(e["data_file"].get("lower_bounds") for e in entries)

    doc = iceberg_export._load_metadata(dest)
    schema = next(
        s for s in doc["schemas"] if s["schema-id"] == doc["current-schema-id"]
    )
    fbn = {f["name"]: f for f in schema["fields"]}
    stripped = [
        {**e, "data_file": {
            k: v for k, v in e["data_file"].items()
            if k not in ("lower_bounds", "upper_bounds")
        }}
        for e in entries
    ]
    assert (
        iceberg_export._stats_prune(stripped, {"c_custkey": -1}, fbn)
        == stripped
    )  # no bounds -> never pruned
    # pre-bounds entries re-encode under the current schema (missing
    # nullable keys -> null), the rewrite-manifests compatibility path
    spec_fields = iceberg_export._spec_fields_from_doc(doc)
    es = iceberg_export._manifest_entry_schema(spec_fields)
    blob = avro_ocf.write_ocf(es, stripped, metadata={"format-version": "2"})
    _, _, back = avro_ocf.read_ocf(blob)
    assert back[0]["data_file"]["lower_bounds"] is None


def test_export_sort_order(spark, sf_dir):
    """A native sort order exports as a real spec sort order (asc,
    nulls-first — matching the writer's layout) so external engines see
    the clustering; unsorted tables keep order-id 0."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    table = _table(spark, cust)
    table.update_sort_order(["c_custkey"])
    table.append(cust.limit(0))  # no-op data, but any write re-sorts
    dest = tempfile.mkdtemp(prefix="iceexp_sort_")
    iceberg_export.export_iceberg(table, dest)
    doc = iceberg_export._load_metadata(dest)
    assert doc["default-sort-order-id"] == 1
    so = next(o for o in doc["sort-orders"] if o["order-id"] == 1)
    schema = next(
        s for s in doc["schemas"] if s["schema-id"] == doc["current-schema-id"]
    )
    fid = next(f["id"] for f in schema["fields"] if f["name"] == "c_custkey")
    assert so["fields"] == [
        {
            "transform": "identity",
            "source-id": fid,
            "direction": "asc",
            "null-order": "nulls-first",
        }
    ]
    # unsorted table: order-id 0 only
    t2 = _table(spark, cust)
    dest2 = tempfile.mkdtemp(prefix="iceexp_sort_")
    iceberg_export.export_iceberg(t2, dest2)
    doc2 = iceberg_export._load_metadata(dest2)
    assert doc2["default-sort-order-id"] == 0


def test_mirror_metadata_tables(spark, sf_dir):
    """B29 over the mirror: .snapshots / .refs / .files read purely
    from the exported metadata, protocol-determined projections."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_meta_")
    iceberg_export.export_iceberg(table, dest)
    iceberg_export.set_ref_iceberg(dest, "keep", ref_type="tag")
    iceberg_export.append_iceberg(
        spark, dest,
        spark.createDataFrame([(50, "X", 0)], schema=nation.schema).coalesce(1),
    )
    iceberg_export.delete_where_iceberg(
        spark, dest, F.col("n_nationkey") == 1, ["n_nationkey"]
    )

    snaps = {r.snapshot_id: r for r in iceberg_export.snapshots_iceberg(spark, dest).collect()}
    assert len(snaps) == 3
    assert snaps[3].operation == "delete" and snaps[3].is_current
    assert snaps[2].parent_id == 1 and not snaps[2].is_current
    refs = {r.name: r for r in iceberg_export.refs_iceberg(spark, dest).collect()}
    assert refs["keep"].type == "tag" and refs["keep"].snapshot_id == 1
    assert refs["main"].snapshot_id == 3
    files = iceberg_export.files_iceberg(spark, dest).collect()
    assert sum(1 for r in files if r.content == 2) == 1  # the delete file
    assert sum(r.record_count for r in files if r.content == 0) == nation.count() + 1
    # sequence numbers reflect commit order
    assert max(r.sequence_number for r in files) == 3


def test_bound_serialization_round_trip():
    """Spec Appendix D single-value serialization round-trips every
    boundable type, and the filter-value coercion lands in the same
    ordered domain."""
    from datetime import date as _date, datetime as _dt, timezone as _tz

    from hypothesis import given, settings, strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.integers(min_value=-(2**31), max_value=2**31 - 1))
    def ints(v):
        b = iceberg_export._bound_to_bytes("int", v)
        assert len(b) == 4
        assert iceberg_export._bound_from_bytes("int", b) == v

    @settings(max_examples=200, deadline=None)
    @given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
    def longs(v):
        b = iceberg_export._bound_to_bytes("long", v)
        assert len(b) == 8
        assert iceberg_export._bound_from_bytes("long", b) == v

    @settings(max_examples=200, deadline=None)
    @given(st.floats(allow_nan=False, allow_infinity=True))
    def doubles(v):
        b = iceberg_export._bound_to_bytes("double", v)
        assert len(b) == 8
        assert iceberg_export._bound_from_bytes("double", b) == v

    ints()
    longs()
    doubles()

    d = _date(2024, 3, 7)
    b = iceberg_export._bound_to_bytes("date", d)
    assert iceberg_export._bound_from_bytes("date", b) == (
        d - _date(1970, 1, 1)
    ).days
    assert iceberg_export._bound_key("date", d) == (d - _date(1970, 1, 1)).days

    ts = _dt(2024, 3, 7, 12, 30, 45, 123456)
    b = iceberg_export._bound_to_bytes("timestamptz", ts)
    micros = iceberg_export._bound_from_bytes("timestamptz", b)
    assert micros == int((ts - _dt(1970, 1, 1)).total_seconds() * 1_000_000)
    # tz-aware input normalizes to UTC before encoding
    aware = ts.replace(tzinfo=_tz.utc)
    assert iceberg_export._bound_to_bytes("timestamptz", aware) == b
    assert iceberg_export._bound_key("timestamptz", aware) == micros
    # unsupported types refuse with None (callers skip, never mis-encode)
    assert iceberg_export._bound_to_bytes("string", "x") is None
    assert iceberg_export._bound_key("string", "x") is None


def test_import_decodes_bounds_metadata_only(spark, sf_dir):
    """Imported files take their native min/max range stats from the
    manifest's spec bounds — metadata-only, no footer read — including
    temporal columns decoded back to the isoformat scalars the native
    pruner compares, and range pruning on the imported table skips
    files."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    table = _table(spark, orders.repartitionByRange(4, "o_orderkey"))
    dest = tempfile.mkdtemp(prefix="iceexp_impb_")
    iceberg_export.export_iceberg(table, dest)

    cat2 = FsCatalog(tempfile.mkdtemp(prefix="iceexp_impb_wh_"))
    cat2.create_namespace(("ns",))
    # sabotage the footer-read fallback so only decoded bounds can
    # provide stats: _file_stats raising proves the metadata-only path
    orig = RelativeTable._file_stats
    RelativeTable._file_stats = lambda self, p: (_ for _ in ()).throw(
        AssertionError("footer read on the bounds path")
    )
    try:
        imp = iceberg_export.import_iceberg(
            spark, cat2, ("ns",), "ord_imp", dest
        )
    finally:
        RelativeTable._file_stats = orig

    meta = imp.ops.current()
    files = imp._data_files(meta, meta["current-snapshot-id"])
    assert files and all("min" in f and "max" in f for f in files)
    f0 = files[0]
    assert isinstance(f0["min"]["o_orderkey"], int)
    # temporal bounds decode to isoformat scalars (native representation)
    assert isinstance(f0["min"]["o_orderdate"], str)
    assert f0["min"]["o_orderdate"] <= f0["max"]["o_orderdate"]
    # string columns have no bounds (never exported)
    # and range pruning actually skips files on the imported table
    lo_key = min(f["min"]["o_orderkey"] for f in files)
    kept = imp.scan_files(column_ranges={"o_orderkey": (lo_key, lo_key)})
    assert 0 < len(kept) < len(files)
    # read equality end to end
    assert sorted(map(tuple, imp.read(spark).collect())) == sorted(
        map(tuple, orders.collect())
    )


# ---------------------------------------------------------------------------
# review-fix regressions
# ---------------------------------------------------------------------------


def test_merge_iceberg_duplicate_target_rows_keep_cardinality(spark, sf_dir):
    """MERGE updates EVERY matched target copy (duplicate target keys
    don't collapse), and multiple NULL-key source rows are legitimate
    inserts, not a duplicate-key refusal."""
    nation = load_table(spark, sf_dir, "nation")
    dup = nation.filter(F.col("n_nationkey") == 5)
    table = _table(spark, nation.unionByName(dup))  # id 5 twice
    dest = tempfile.mkdtemp(prefix="iceexp_mdup_")
    iceberg_export.export_iceberg(table, dest)

    src = spark.createDataFrame(
        [(5, "UPDATED", 0), (None, "NULLROW-A", 1), (None, "NULLROW-B", 2)],
        schema="n_nationkey int, n_name string, n_regionkey int",
    )
    iceberg_export.merge_iceberg(spark, dest, src, ["n_nationkey"])
    df = iceberg_export.read_iceberg(spark, dest)
    five = df.filter(F.col("n_nationkey") == 5).collect()
    assert len(five) == 2  # both copies survive...
    assert all(r.n_name == "UPDATED" for r in five)  # ...both updated
    assert df.filter(F.col("n_name").startswith("NULLROW")).count() == 2
    assert df.count() == nation.count() + 1 + 2


def test_evolve_schema_iceberg_duplicate_target_names_refused(spark, sf_dir):
    """Two renames onto one name, and add colliding with a rename
    target, are refused before anything commits."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_evodup_")
    iceberg_export.export_iceberg(table, dest)
    with open(f"{dest}/metadata/version-hint.text") as fh:
        v_before = fh.read().strip()
    with pytest.raises(ValueError, match="duplicate column name"):
        iceberg_export.evolve_schema_iceberg(
            dest, rename={"n_name": "x", "n_regionkey": "x"}
        )
    with pytest.raises(ValueError, match="duplicate column name"):
        iceberg_export.evolve_schema_iceberg(
            dest, add={"x": "long"}, rename={"n_name": "x"}
        )
    with open(f"{dest}/metadata/version-hint.text") as fh:
        assert fh.read().strip() == v_before  # nothing committed


def test_time_travel_read_past_drop_of_delete_key(spark, sf_dir):
    """A tagged snapshot carrying an equality delete keyed on a column
    that is LATER dropped still reads: the snapshot resolves under its
    own era's schema (spec time-travel semantics), so the delete key
    resolves and the era's columns come back."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_ttdrop_")
    iceberg_export.export_iceberg(table, dest)
    iceberg_export.delete_where_iceberg(
        spark, dest, F.col("n_regionkey") == 2, ["n_regionkey"]
    )
    iceberg_export.set_ref_iceberg(dest, "with_delete", ref_type="tag")
    n_live = nation.filter(F.col("n_regionkey") != 2).count()

    iceberg_export.compact_iceberg(spark, dest)  # head has no deletes
    iceberg_export.evolve_schema_iceberg(dest, drop=["n_regionkey"])

    # head read: dropped column gone
    head = iceberg_export.read_iceberg(spark, dest)
    assert "n_regionkey" not in head.columns and head.count() == n_live
    # tagged read: era schema, delete applied, column present
    tagged = iceberg_export.read_iceberg(spark, dest, ref="with_delete")
    assert "n_regionkey" in tagged.columns
    assert tagged.count() == n_live
    assert tagged.filter(F.col("n_regionkey") == 2).count() == 0


def test_expire_reaps_overwrite_replaced_files(spark, sf_dir):
    """Files replaced by a dynamic overwrite (status=DELETED entries in
    the retained manifest) reap on expiry once no retained snapshot
    lists them live — an overwrite-heavy mirror must not hold dead data
    forever."""
    import os as _os

    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation, partition_by=["n_regionkey"])
    dest = tempfile.mkdtemp(prefix="iceexp_owreap_")
    iceberg_export.export_iceberg(table, dest)
    src = spark.createDataFrame([(50, "NEW", 1)], schema=nation.schema)
    iceberg_export.overwrite_partitions_iceberg(spark, dest, src)

    # the replaced region-1 files are mirror-owned copies? no — export
    # references the SOURCE table's files (zero-copy), which expire
    # never touches; so append a mirror-owned batch into region 2,
    # overwrite region 2, and check THAT file reaps
    batch = spark.createDataFrame([(60, "OWNED", 2)], schema=nation.schema)
    iceberg_export.append_iceberg(spark, dest, batch)
    owned = [
        e["data_file"]["file_path"]
        for e in _head_data_entries(dest)
        if e["data_file"]["file_path"].startswith(dest)
    ]
    assert owned
    iceberg_export.overwrite_partitions_iceberg(
        spark, dest,
        spark.createDataFrame([(61, "OWNED2", 2)], schema=nation.schema),
    )
    assert all(_os.path.exists(p) for p in owned)
    iceberg_export.expire_snapshots_iceberg(dest, keep_last=1)
    # the replaced mirror-owned region-2 file is gone from disk
    assert not any(
        _os.path.exists(p) and "append-" in p for p in owned
    )
    # and the current read is intact
    df = iceberg_export.read_iceberg(spark, dest)
    assert df.filter(F.col("n_regionkey") == 2).count() == 1


def test_remove_orphan_files_iceberg(spark, sf_dir):
    """Orphan cleanup reaps only unreferenced mirror-owned artifacts:
    stray data files, abandoned temp metadata, and unreferenced avro —
    never live files, metadata.json versions, or the hint."""
    import os as _os

    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_orph_")
    iceberg_export.export_iceberg(table, dest)
    iceberg_export.append_iceberg(
        spark, dest,
        spark.createDataFrame([(50, "X", 0)], schema=nation.schema),
    )
    n_before = iceberg_export.read_iceberg(spark, dest).count()

    # plant debris: a crashed write's data file, a temp metadata file,
    # and an unreferenced avro
    stray1 = _os.path.join(dest, "data", "append-deadbeef", "part-crashed.parquet")
    _os.makedirs(_os.path.dirname(stray1))
    open(stray1, "wb").write(b"junk")
    stray2 = _os.path.join(dest, "metadata", ".tmp-abandoned.metadata.json")
    open(stray2, "w").write("{}")
    stray3 = _os.path.join(dest, "metadata", "0000-orphan-m0.avro")
    open(stray3, "wb").write(b"junk")

    # a job marker inside a live commit dir is NEVER a candidate
    live_dir = _os.path.dirname(
        next(
            e["data_file"]["file_path"]
            for e in _head_data_entries(dest)
            if e["data_file"]["file_path"].startswith(dest)
        )
    )
    marker = _os.path.join(live_dir, "_SUCCESS")
    open(marker, "w").close()

    # default threshold guards in-flight commits: fresh debris survives
    info0 = iceberg_export.remove_orphan_files_iceberg(dest)
    assert info0["removed"] == 0 and _os.path.exists(stray1)

    info = iceberg_export.remove_orphan_files_iceberg(dest, older_than_s=0)
    assert info["removed"] == 3  # exactly the three planted orphans
    assert not _os.path.exists(stray1) and not _os.path.exists(stray2)
    assert not _os.path.exists(stray3)
    assert not _os.path.exists(_os.path.dirname(stray1))  # empty dir reaped
    assert _os.path.exists(marker)  # job markers skipped
    # live state intact: same rows, metadata versions + hint untouched
    assert iceberg_export.read_iceberg(spark, dest).count() == n_before
    assert _os.path.exists(_os.path.join(dest, "metadata", "version-hint.text"))
    assert (
        iceberg_export.remove_orphan_files_iceberg(dest, older_than_s=0)[
            "removed"
        ]
        == 0
    )
    # deep nesting reaps in ONE pass (parent emptied by child removal)
    deep = _os.path.join(dest, "data", "x1", "x2", "x3.parquet")
    _os.makedirs(_os.path.dirname(deep))
    open(deep, "wb").write(b"j")
    iceberg_export.remove_orphan_files_iceberg(dest, older_than_s=0)
    assert not _os.path.exists(_os.path.join(dest, "data", "x1"))
    # unreadable metadata ABORTS instead of misclassifying: corrupt a
    # manifest-list path and expect a raise, with no deletions
    doc = iceberg_export._load_metadata(dest)
    snap = next(
        s for s in doc["snapshots"]
        if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    saved = snap["manifest-list"] + ".bak"
    _os.rename(snap["manifest-list"], saved)
    try:
        with pytest.raises(OSError):
            iceberg_export.remove_orphan_files_iceberg(dest, older_than_s=0)
    finally:
        _os.rename(saved, snap["manifest-list"])
    assert iceberg_export.read_iceberg(spark, dest).count() == n_before


def test_read_iceberg_timestamp_as_of(spark, sf_dir):
    """TIMESTAMP AS OF resolves through the snapshot-log: at-or-before
    semantics, pre-history refused, and mutually exclusive with
    snapshot_id/ref."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation.filter(F.col("n_nationkey") < 10))
    dest = tempfile.mkdtemp(prefix="iceexp_asof_")
    iceberg_export.export_iceberg(table, dest)
    doc = iceberg_export._load_metadata(dest)
    t1 = doc["snapshot-log"][-1]["timestamp-ms"]
    iceberg_export.append_iceberg(
        spark, dest,
        spark.createDataFrame([(50, "LATER", 0)], schema=nation.schema),
    )
    t2 = iceberg_export._load_metadata(dest)["snapshot-log"][-1]["timestamp-ms"]

    assert iceberg_export.read_iceberg(spark, dest, as_of_ms=t1).count() == 10
    assert iceberg_export.read_iceberg(spark, dest, as_of_ms=t2).count() == 11
    assert (
        iceberg_export.read_iceberg(spark, dest, as_of_ms=t2 + 10_000).count()
        == 11
    )
    with pytest.raises(ValueError, match="no snapshot at or before"):
        iceberg_export.read_iceberg(spark, dest, as_of_ms=t1 - 10_000_000)
    with pytest.raises(ValueError, match="at most one"):
        iceberg_export.read_iceberg(spark, dest, as_of_ms=t1, ref="main")


def test_mirror_merge_and_append_race_through_cas(spark, sf_dir):
    """All mirror committers share the metadata CAS: a MERGE and an
    APPEND racing must both land exactly once after retries, in either
    order, with dense sequence numbers and the union-plus-update as the
    final state."""
    import threading

    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_race2_")
    iceberg_export.export_iceberg(table, dest)

    src = nation.filter(F.col("n_nationkey") < 3).withColumn(
        "n_name", F.lit("MERGED")
    )
    batch = spark.createDataFrame([(77, "APPENDED", 0)], schema=nation.schema)
    results: dict[str, dict] = {}
    errors: list[Exception] = []

    def run(name, fn):
        for _ in range(25):
            try:
                results[name] = fn()
                return
            except ValueError as exc:
                if "concurrent commit" not in str(exc):
                    errors.append(exc)
                    return
        errors.append(RuntimeError(f"{name} never committed"))

    threads = [
        threading.Thread(
            target=run,
            args=("merge", lambda: iceberg_export.merge_iceberg(
                spark, dest, src, ["n_nationkey"])),
        ),
        threading.Thread(
            target=run,
            args=("append", lambda: iceberg_export.append_iceberg(
                spark, dest, batch)),
        ),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors and len(results) == 2
    seqs = sorted(r["sequence-number"] for r in results.values())
    assert seqs == [2, 3]  # dense, no lost commit
    df = iceberg_export.read_iceberg(spark, dest)
    assert df.count() == nation.count() + 1
    assert df.filter(F.col("n_name") == "MERGED").count() == 3
    assert df.filter(F.col("n_nationkey") == 77).count() == 1


def test_expire_respects_branch_ancestry(spark, sf_dir):
    """A branch ref protects its FULL ancestry from expiry (a tag pins
    only its one snapshot); dropping the branch frees the chain."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation.filter(F.col("n_nationkey") < 5))
    dest = tempfile.mkdtemp(prefix="iceexp_branch_")
    iceberg_export.export_iceberg(table, dest)
    for k in range(3):
        iceberg_export.append_iceberg(
            spark, dest,
            spark.createDataFrame([(100 + k, f"X{k}", 0)], schema=nation.schema),
        )
    doc = iceberg_export._load_metadata(dest)
    mid_sid = doc["snapshots"][1]["snapshot-id"]  # snapshot 2 of 4
    iceberg_export.set_ref_iceberg(
        dest, "dev", snapshot_id=mid_sid, ref_type="branch"
    )
    iceberg_export.expire_snapshots_iceberg(dest, keep_last=1)
    kept = {s["snapshot-id"] for s in iceberg_export._load_metadata(dest)["snapshots"]}
    # the branch head AND its ancestor survive alongside main's head
    assert mid_sid in kept and (mid_sid - 1) in kept
    assert iceberg_export.read_iceberg(spark, dest, ref="dev").count() == 6
    iceberg_export.drop_ref_iceberg(dest, "dev")
    iceberg_export.expire_snapshots_iceberg(dest, keep_last=1)
    kept2 = {s["snapshot-id"] for s in iceberg_export._load_metadata(dest)["snapshots"]}
    assert mid_sid not in kept2 and len(kept2) == 1


# ---------------------------------------------------------------------------
# round-7 advice hardening: tz-aware bound keys, malformed external
# bounds, branch-vs-tag schema resolution, metadata-log cap
# ---------------------------------------------------------------------------


def test_bound_key_timestamptz_session_timezone():
    """A NAIVE datetime filtered against a timestamptz column must
    prune in the SESSION timezone (that is how Spark interprets the
    naive lit in the final row filter) — or not prune at all when the
    zone is unknown. A wrong UTC assumption here silently skips files
    holding matching rows on any non-UTC session."""
    from datetime import datetime, timezone, timedelta

    naive = datetime(2024, 6, 1, 12, 0, 0)
    # aware values prune identically regardless of session tz
    aware = naive.replace(tzinfo=timezone(timedelta(hours=-4)))
    k_aware = iceberg_export._bound_key("timestamptz", aware, "Asia/Tokyo")
    assert k_aware == iceberg_export._bound_key("timestamptz", aware, None)
    # naive + UTC session == the historical behavior
    k_utc = iceberg_export._bound_key("timestamptz", naive, "UTC")
    epoch = datetime(1970, 1, 1)
    assert k_utc == int((naive - epoch).total_seconds() * 1_000_000)
    # naive + New York session shifts by the UTC offset (EDT = UTC-4)
    k_ny = iceberg_export._bound_key(
        "timestamptz", naive, "America/New_York"
    )
    assert k_ny == k_utc + 4 * 3600 * 1_000_000
    # naive + unknown/absent session tz -> no pruning, never a wrong one
    assert iceberg_export._bound_key("timestamptz", naive, None) is None
    assert (
        iceberg_export._bound_key("timestamptz", naive, "Not/AZone") is None
    )
    # plain timestamp (ntz) compares naive directly — no zone enters
    assert (
        iceberg_export._bound_key("timestamp", naive, "America/New_York")
        == k_utc
    )


def test_stats_prune_malformed_external_bounds_kept():
    """Truncated / oversized bound bytes from a nonconforming external
    writer are treated as ABSENT (entry kept), matching the import
    path's rule — a read must never abort over an optimization-only
    field."""
    fields = {"v": {"id": 7, "type": "long"}}

    def entry(lo, hi):
        return {
            "data_file": {
                "lower_bounds": [{"key": 7, "value": lo}],
                "upper_bounds": [{"key": 7, "value": hi}],
            }
        }

    import struct

    good_lo, good_hi = struct.pack("<q", 10), struct.pack("<q", 20)
    entries = [
        entry(good_lo, good_hi),          # excludes 99 -> pruned
        entry(b"\x01\x02", good_hi),      # truncated lower -> kept
        entry(good_lo, b"\x00" * 12),     # oversized upper -> kept
    ]
    kept = iceberg_export._stats_prune(entries, {"v": 99}, fields)
    assert kept == entries[1:]


def test_branch_ref_reads_current_schema_tag_keeps_era(spark, sf_dir):
    """Iceberg resolves a BRANCH ref (incl. ``main``) under the table's
    CURRENT schema and only TAGS under the snapshot-time schema — so
    after a metadata-only evolve, ``ref='main'`` and the default head
    read agree, while a tag still time-travels the era schema."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_branchschema_")
    iceberg_export.export_iceberg(table, dest)
    iceberg_export.set_ref_iceberg(dest, "era", ref_type="tag")
    iceberg_export.set_ref_iceberg(dest, "dev", ref_type="branch")
    iceberg_export.evolve_schema_iceberg(
        dest, rename={"n_nationkey": "n_key"}, add={"n_motto": "string"}
    )

    head = iceberg_export.read_iceberg(spark, dest)
    via_main = iceberg_export.read_iceberg(spark, dest, ref="main")
    via_dev = iceberg_export.read_iceberg(spark, dest, ref="dev")
    assert via_main.columns == head.columns  # evolved schema
    assert via_dev.columns == head.columns
    assert "n_key" in head.columns and "n_motto" in head.columns
    assert sorted(r.n_key for r in via_main.collect()) == sorted(
        r.n_nationkey for r in nation.collect()
    )
    # the tag still reads the pre-evolution era schema
    via_tag = iceberg_export.read_iceberg(spark, dest, ref="era")
    assert via_tag.columns == nation.columns
    # explicit snapshot_id time travel keeps era semantics too
    sid = iceberg_export._load_metadata(dest)["current-snapshot-id"]
    via_sid = iceberg_export.read_iceberg(spark, dest, snapshot_id=sid)
    assert via_sid.columns == nation.columns


def test_metadata_log_capped_by_previous_versions_max(spark, sf_dir):
    """The metadata-log is capped like Iceberg's
    ``write.metadata.previous-versions-max`` — a per-batch streaming
    mirror must not grow every metadata.json O(commits)."""
    import os

    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_mlog_")
    iceberg_export.export_iceberg(table, dest)
    # set the table property the way a client would (on the current
    # metadata): rewrite v1 in place before further commits
    meta_path = os.path.join(dest, "metadata", "v1.metadata.json")
    with open(meta_path) as fh:
        doc = json.load(fh)
    doc["properties"]["write.metadata.previous-versions-max"] = "3"
    with open(meta_path, "w") as fh:
        json.dump(doc, fh)

    for k in range(6):
        iceberg_export.append_iceberg(
            spark, dest,
            spark.createDataFrame(
                [(200 + k, f"M{k}", 0)], schema=nation.schema
            ),
        )
    doc = iceberg_export._load_metadata(dest)
    log = doc["metadata-log"]
    assert len(log) == 3
    # the newest predecessors survive, oldest dropped first
    assert log[-1]["metadata-file"].endswith("v6.metadata.json")
    assert log[0]["metadata-file"].endswith("v4.metadata.json")
    # the reads are unaffected and the full history still time-travels
    assert (
        iceberg_export.read_iceberg(spark, dest).count()
        == nation.count() + 6
    )


# ---------------------------------------------------------------------------
# delete_positions_iceberg (round-7): mirror-side position-delete DML
# ---------------------------------------------------------------------------


def test_delete_positions_iceberg_basic_and_scoping(spark, sf_dir):
    """Position-delete DML: predicate rows vanish; a row appended AFTER
    the delete survives even though it matches the predicate by value
    (<=-sequence scoping); a second delete sees both eras; a predicate
    matching nothing commits nothing."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    table = _table(spark, cust)
    dest = tempfile.mkdtemp(prefix="iceexp_pdml_")
    iceberg_export.export_iceberg(table, dest)

    info = iceberg_export.delete_positions_iceberg(
        spark, dest, F.col("c_custkey") % 13 == 0
    )
    n13 = cust.filter(F.col("c_custkey") % 13 == 0).count()
    assert info["delete-records"] == n13
    got = iceberg_export.read_iceberg(spark, dest)
    assert got.count() == cust.count() - n13
    assert got.filter(F.col("c_custkey") % 13 == 0).count() == 0

    # the delete parquet is spec-shaped: reserved field ids, sorted
    import pyarrow.parquet as pq

    dpath = None
    doc = iceberg_export._load_metadata(dest)
    cur = next(
        s for s in doc["snapshots"]
        if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    with open(cur["manifest-list"], "rb") as fh:
        _, _, mls = avro_ocf.read_ocf(fh.read())
    for mf in mls:
        if mf["content"] != 1:
            continue
        with open(mf["manifest_path"], "rb") as fh:
            _, _, entries = avro_ocf.read_ocf(fh.read())
        for e in entries:
            assert e["data_file"]["content"] == 1
            assert e["data_file"]["equality_ids"] is None
            dpath = e["data_file"]["file_path"]
    assert dpath is not None
    pf = pq.ParquetFile(dpath)
    names = {
        pf.schema_arrow.field(i).name: pf.schema_arrow.field(i).metadata
        for i in range(2)
    }
    assert names["file_path"][b"PARQUET:field_id"] == b"2147483546"
    assert names["pos"][b"PARQUET:field_id"] == b"2147483545"
    tbl = pf.read()
    rows = list(zip(tbl["file_path"].to_pylist(), tbl["pos"].to_pylist()))
    assert rows == sorted(rows)
    # and the recorded file_path matches the manifests EXACTLY
    data_paths = set(iceberg_export._head_data_file_paths(doc).values())
    assert set(tbl["file_path"].to_pylist()) <= data_paths

    # appended after: matches the predicate by value, must survive
    iceberg_export.append_iceberg(
        spark, dest,
        spark.createDataFrame(
            [(13, "LATE", -1.0)],
            schema="c_custkey bigint, c_name string, c_acctbal double",
        ),
    )
    got2 = iceberg_export.read_iceberg(spark, dest)
    assert got2.filter(F.col("c_name") == "LATE").count() == 1
    # a second delete kills the late row too (it is in scope now)
    iceberg_export.delete_positions_iceberg(
        spark, dest, F.col("c_name") == "LATE"
    )
    assert (
        iceberg_export.read_iceberg(spark, dest)
        .filter(F.col("c_name") == "LATE")
        .count()
        == 0
    )
    # no-match commits nothing
    v = iceberg_export._load_metadata(dest)["last-sequence-number"]
    info3 = iceberg_export.delete_positions_iceberg(
        spark, dest, F.col("c_custkey") == -1
    )
    assert info3["delete-records"] == 0 and info3["snapshot-id"] is None
    assert iceberg_export._load_metadata(dest)["last-sequence-number"] == v


def test_delete_positions_iceberg_partitioned_and_renamed(spark, sf_dir):
    """The predicate evaluates against the CURRENT logical table: a
    restored identity-partition column and a renamed column both
    resolve; already-deleted rows are never re-deleted (the position
    source is the live read)."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .filter(F.col("o_orderkey") <= 2000)
    )
    table = _table(spark, orders, partition_by=["o_orderstatus"])
    dest = tempfile.mkdtemp(prefix="iceexp_pdml_part_")
    iceberg_export.export_iceberg(table, dest)

    # equality delete first; its victims are not live for the position
    # delete's scan
    iceberg_export.delete_where_iceberg(
        spark, dest, F.col("o_orderkey") % 11 == 0, ["o_orderkey"]
    )
    iceberg_export.evolve_schema_iceberg(
        dest, rename={"o_totalprice": "o_price"}
    )
    # predicate on BOTH the partition column (restored from the
    # manifest partition struct) and the renamed column
    info = iceberg_export.delete_positions_iceberg(
        spark,
        dest,
        (F.col("o_orderstatus") == "F") & (F.col("o_price") > 100000.0),
    )
    assert info["delete-records"] > 0
    got = iceberg_export.read_iceberg(spark, dest)
    import pyspark.sql.functions as Fn

    expected = (
        orders.filter(~(Fn.col("o_orderkey") % 11 == 0))
        .filter(
            ~(
                (Fn.col("o_orderstatus") == "F")
                & (Fn.col("o_totalprice") > 100000.0)
            )
        )
        .count()
    )
    assert got.count() == expected
    assert (
        got.filter(
            (Fn.col("o_orderstatus") == "F") & (Fn.col("o_price") > 100000.0)
        ).count()
        == 0
    )


# ---------------------------------------------------------------------------
# writer-independent spec conformance gate (round 7): tools/spec_conformance
# validates raw exported bytes against spec constants WITHOUT importing
# the writer — a shared wrong assumption between writer and spec-path
# reader cannot hide from it
# ---------------------------------------------------------------------------


def _conform(dest):
    from tools.spec_conformance import check_table

    errs = check_table(dest)
    assert not errs, "spec conformance violations:\n" + "\n".join(errs)


def test_spec_conformance_full_lifecycle(spark, sf_dir):
    """The full mirror DML lifecycle stays spec-conformant under the
    independent byte-level checker: partitioned export, equality +
    position deletes, append, atomic update, merge, dynamic partition
    overwrite, hand-written position deletes, tag, evolution, manifest
    rewrite, compaction, expiry."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    table = _table(spark, cust, partition_by=["c_nationkey"])
    dest = tempfile.mkdtemp(prefix="iceexp_conform_")
    iceberg_export.export_iceberg(table, dest)
    _conform(dest)
    iceberg_export.delete_where_iceberg(
        spark, dest, F.col("c_custkey") % 7 == 0, ["c_custkey"]
    )
    _conform(dest)
    iceberg_export.append_iceberg(
        spark, dest, cust.filter(F.col("c_custkey") < 5)
    )
    iceberg_export.delete_positions_iceberg(
        spark, dest, F.col("c_custkey") % 11 == 0
    )
    _conform(dest)
    iceberg_export.update_where_iceberg(
        spark,
        dest,
        F.col("c_custkey") % 13 == 0,
        {"c_acctbal": F.col("c_acctbal") + 1},
        ["c_custkey"],
    )
    iceberg_export.merge_iceberg(
        spark,
        dest,
        cust.filter(F.col("c_custkey") < 3).withColumn("c_name", F.lit("M")),
        ["c_custkey"],
    )
    _conform(dest)
    iceberg_export.overwrite_partitions_iceberg(
        spark, dest, cust.filter(F.col("c_nationkey") == 3)
    )
    _conform(dest)
    first = sorted(
        iceberg_export._head_data_file_paths(
            iceberg_export._load_metadata(dest)
        ).values()
    )[0]
    iceberg_export.write_position_deletes(dest, {first: [0, 2]})
    _conform(dest)
    iceberg_export.set_ref_iceberg(dest, "v1", ref_type="tag")
    iceberg_export.evolve_schema_iceberg(dest, add={"extra": "string"})
    iceberg_export.rewrite_manifests_iceberg(dest)
    _conform(dest)
    iceberg_export.compact_iceberg(spark, dest)
    _conform(dest)
    iceberg_export.expire_snapshots_iceberg(dest, keep_last=3)
    _conform(dest)


def test_spec_conformance_gzip_and_buckets(spark, sf_dir):
    """gzip metadata and murmur3 bucket[N] specs pass the byte gate."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat = FsCatalog(tempfile.mkdtemp(prefix="iceexp_confb_wh_"))
    cat.create_namespace(("ns",))
    ops = cat.create_table(
        ("ns",),
        "t",
        orders.schema.jsonValue(),
        partition_by=["bucket(8, o_orderkey)"],
        properties={"write.metadata.compression": "gzip"},
    )
    table = RelativeTable(ops)
    table.append(orders)
    dest = tempfile.mkdtemp(prefix="iceexp_confb_")
    iceberg_export.export_iceberg(table, dest)
    _conform(dest)




def test_spec_conformance_mutation_kill(spark, sf_dir):
    """The gate actually bites: perturbing a spec field id, dropping a
    metadata key, truncating a bound value width, unsorting a position
    delete, or a manifest-list row count its entries do not give each
    flips the checker to FAIL. Every mutation is
    applied IN PLACE to a fresh fixture (the metadata records absolute
    paths, so a copied tree would still validate the original)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.spec_conformance import check_table

    def fresh():
        nation = load_table(spark, sf_dir, "nation")
        table = _table(spark, nation)
        dest = tempfile.mkdtemp(prefix="iceexp_mut_")
        iceberg_export.export_iceberg(table, dest)
        iceberg_export.delete_positions_iceberg(
            spark, dest, F.col("n_nationkey") == 3
        )
        assert check_table(dest) == []
        return dest

    def head_snapshot(dest):
        doc = iceberg_export._load_metadata(dest)
        return doc, next(
            s for s in doc["snapshots"]
            if s["snapshot-id"] == doc["current-snapshot-id"]
        )

    def rewrite_ocf(path, schema, records, meta):
        # write_ocf re-derives avro.schema from the schema param; carry
        # only the Iceberg-stamped extras forward
        extras = {
            k: v for k, v in meta.items() if not k.startswith("avro.")
        }
        with open(path, "wb") as fh:
            b = avro_ocf.write_ocf(schema, records, metadata=extras)
            fh.write(b)
        return len(b)

    # 1: perturb manifest_file field id 500 -> 999 in the manifest list
    dest = fresh()
    _, snap = head_snapshot(dest)
    with open(snap["manifest-list"], "rb") as fh:
        schema, meta, records = avro_ocf.read_ocf(fh.read())
    for f in schema["fields"]:
        if f["name"] == "manifest_path":
            f["field-id"] = 999
    rewrite_ocf(snap["manifest-list"], schema, records, meta)
    errs = check_table(dest)
    assert any("manifest_file field ids diverge" in e for e in errs), errs

    # 2: drop a required metadata key from the current metadata.json
    dest = fresh()
    hint = open(os.path.join(dest, "metadata", "version-hint.text")).read()
    mp = os.path.join(dest, "metadata", f"v{int(hint)}.metadata.json")
    doc = json.load(open(mp))
    del doc["last-sequence-number"]
    json.dump(doc, open(mp, "w"))
    errs = check_table(dest)
    assert any("missing keys" in e for e in errs), errs

    # 3: unsort the position-delete parquet (keep sizes consistent so
    # the ORDER is what trips the gate)
    dest = fresh()
    _, snap = head_snapshot(dest)
    with open(snap["manifest-list"], "rb") as fh:
        lschema, lmeta, mls = avro_ocf.read_ocf(fh.read())
    mf = next(m for m in mls if m["content"] == 1)
    with open(mf["manifest_path"], "rb") as fh:
        eschema, emeta, entries = avro_ocf.read_ocf(fh.read())
    rec = next(
        e["data_file"] for e in entries if e["data_file"]["content"] == 1
    )
    t = pq.read_table(rec["file_path"])
    flipped = pa.table(
        {
            "file_path": list(t["file_path"].to_pylist()) * 2,
            "pos": [10**6] + t["pos"].to_pylist()[: t.num_rows * 2 - 1],
        },
        schema=t.schema,
    )
    pq.write_table(flipped, rec["file_path"])
    rec["record_count"] = flipped.num_rows
    rec["file_size_in_bytes"] = os.path.getsize(rec["file_path"])
    n = rewrite_ocf(mf["manifest_path"], eschema, entries, emeta)
    mf["manifest_length"] = n
    rewrite_ocf(snap["manifest-list"], lschema, mls, lmeta)
    errs = check_table(dest)
    assert any("not sorted" in e for e in errs), errs

    # 4: record a wrong file size for a data file
    dest = fresh()
    _, snap = head_snapshot(dest)
    with open(snap["manifest-list"], "rb") as fh:
        lschema, lmeta, mls = avro_ocf.read_ocf(fh.read())
    mf = next(m for m in mls if m["content"] == 0)
    with open(mf["manifest_path"], "rb") as fh:
        eschema, emeta, entries = avro_ocf.read_ocf(fh.read())
    entries[0]["data_file"]["file_size_in_bytes"] += 1
    n = rewrite_ocf(mf["manifest_path"], eschema, entries, emeta)
    mf["manifest_length"] = n
    rewrite_ocf(snap["manifest-list"], lschema, mls, lmeta)
    errs = check_table(dest)
    assert any("file_size_in_bytes" in e for e in errs), errs

    # 5: truncate a bound value below its type's fixed width
    dest = fresh()
    _, snap = head_snapshot(dest)
    with open(snap["manifest-list"], "rb") as fh:
        lschema, lmeta, mls = avro_ocf.read_ocf(fh.read())
    mf = next(m for m in mls if m["content"] == 0)
    with open(mf["manifest_path"], "rb") as fh:
        eschema, emeta, entries = avro_ocf.read_ocf(fh.read())
    bounded = next(
        e["data_file"] for e in entries if e["data_file"].get("lower_bounds")
    )
    bounded["lower_bounds"][0]["value"] = b"\x01"
    n = rewrite_ocf(mf["manifest_path"], eschema, entries, emeta)
    mf["manifest_length"] = n
    rewrite_ocf(snap["manifest-list"], lschema, mls, lmeta)
    errs = check_table(dest)
    assert any("value width" in e for e in errs), errs

    # 6: a manifest-list added_rows_count one off what its entries give
    dest = fresh()
    _, snap = head_snapshot(dest)
    with open(snap["manifest-list"], "rb") as fh:
        lschema, lmeta, mls = avro_ocf.read_ocf(fh.read())
    mls[0]["added_rows_count"] += 1
    rewrite_ocf(snap["manifest-list"], lschema, mls, lmeta)
    errs = check_table(dest)
    assert any("added_rows_count" in e for e in errs), errs


# ---------------------------------------------------------------------------
# one empty-manifest rule: the snapshot producer writes no manifest
# without entries
# ---------------------------------------------------------------------------


def _manifest_entry_counts(dest) -> list[int]:
    """Entry count of every manifest any retained snapshot lists."""
    counts = []
    for snap in iceberg_export._load_metadata(dest)["snapshots"]:
        for mf in iceberg_export._avro_records(snap["manifest-list"]):
            counts.append(len(iceberg_export._avro_records(mf["manifest_path"])))
    return counts


def _stream_mirror(spark, dest, name) -> tuple[list, object]:
    """Rows and schema a fresh ``iceberg_mirror`` stream reads from
    ``dest`` (its surviving snapshot log, drained once)."""
    from iceberg_relative_io_spark.sources.iceberg_mirror_source import (
        IcebergMirrorDataSource,
    )

    try:
        spark.dataSource.register(IcebergMirrorDataSource)
    except Exception:
        pass
    stream = spark.readStream.format("iceberg_mirror").option("path", dest).load()
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix=f"ckpt_{name}_"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return [tuple(r) for r in spark.table(name).collect()], stream.schema


def test_mirror_compact_of_empty_table_writes_no_manifest(spark, sf_dir):
    """Deleting every row and compacting leaves a snapshot whose
    manifest list is empty: no zero-entry manifest anywhere, reads
    return no rows under the table schema, a stream started on the
    compacted table reads nothing and then tails a later append, and
    the byte-level gate passes."""
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    dest = tempfile.mkdtemp(prefix="iceexp_empty_compact_")
    iceberg_export.export_iceberg(
        _table(spark, nation, partition_by=["n_regionkey"]), dest
    )
    iceberg_export.delete_where_iceberg(
        spark, dest, F.lit(True), ["n_nationkey"]
    )
    info = iceberg_export.compact_iceberg(spark, dest)
    assert info["data-files"] == 0 and info["manifest"] is None
    assert 0 not in _manifest_entry_counts(dest)
    got = iceberg_export.read_iceberg(spark, dest)
    assert got.collect() == []
    assert got.select(*nation.columns).schema == nation.schema
    _conform(dest)

    iceberg_export.expire_snapshots_iceberg(dest, keep_last=1)
    rows, schema = _stream_mirror(spark, dest, "empty_compact_tail")
    assert rows == []
    assert [f.name for f in schema.fields] == nation.columns
    iceberg_export.append_iceberg(
        spark, dest, nation.filter(F.col("n_nationkey") == 7)
    )
    want = [tuple(r) for r in nation.filter(F.col("n_nationkey") == 7).collect()]
    got = iceberg_export.read_iceberg(spark, dest).select(*nation.columns)
    assert [tuple(r) for r in got.collect()] == want
    assert 0 not in _manifest_entry_counts(dest)
    _conform(dest)


def test_mirror_empty_append_writes_no_manifest(spark, sf_dir):
    """An append of an empty DataFrame commits its snapshot without a
    manifest: every row reads back through both read paths with the
    table schema, no zero-entry manifest is listed, and the byte-level
    gate passes."""
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    dest = tempfile.mkdtemp(prefix="iceexp_empty_append_")
    iceberg_export.export_iceberg(_table(spark, nation), dest)
    info = iceberg_export.append_iceberg(spark, dest, nation.limit(0))
    assert info["data-files"] == 0 and info["manifest"] is None
    assert 0 not in _manifest_entry_counts(dest)
    want = sorted(tuple(r) for r in nation.collect())
    got = iceberg_export.read_iceberg(spark, dest).select(*nation.columns)
    assert got.schema == nation.schema
    assert sorted(tuple(r) for r in got.collect()) == want
    rows, schema = _stream_mirror(spark, dest, "empty_append_tail")
    assert [f.name for f in schema.fields] == nation.columns
    assert sorted(rows) == want
    _conform(dest)


def test_migrated_bucket_table_exports_bucket_field(spark, sf_dir):
    """After migrate_bucket_hash, a formerly-legacy table's export
    RETAINS bucket[N]: legacy-era files carry NULL bucket values
    (Iceberg's spec-evolution rule — scanned, never pruned) while
    murmur3-era files carry real prunable values; the round trip is
    exact and the byte-level conformance gate passes."""
    import json as _json

    from iceberg_relative_io_spark.catalog import FsCatalog
    from iceberg_relative_io_spark.catalog.bucket_hash import bucket_value
    from tools.spec_conformance import check_table

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "id long, v string"
    )
    cat = FsCatalog(tempfile.mkdtemp(prefix="iceexp_migb_wh_"))
    cat.create_namespace(("ns",))
    ops = cat.create_table(
        ("ns",), "t", df.schema.jsonValue(), partition_by=["bucket(4, id)"]
    )
    meta = _json.loads(_json.dumps(ops.current()))
    del meta["bucket-hash"]  # age to the pre-switch dialect
    ops.commit(ops.current_version(), meta)
    ops.refresh()
    table = RelativeTable(ops)
    table.append(df)

    # pre-migration: the legacy layout DROPS the bucket field on export
    dest0 = tempfile.mkdtemp(prefix="iceexp_migb0_")
    iceberg_export.export_iceberg(table, dest0)
    doc0 = iceberg_export._load_metadata(dest0)
    spec0 = next(
        p for p in doc0["partition-specs"]
        if p["spec-id"] == doc0["default-spec-id"]
    )
    assert all(
        not pf["transform"].startswith("bucket[") for pf in spec0["fields"]
    )

    pre_snap = ops.current()["current-snapshot-id"]
    table.migrate_bucket_hash()
    df2 = spark.createDataFrame(
        [(1000 + i, f"n{i}") for i in range(50)], "id long, v string"
    )
    table.append(df2)

    dest = tempfile.mkdtemp(prefix="iceexp_migb_")
    iceberg_export.export_iceberg(table, dest)
    assert check_table(dest) == []
    doc = iceberg_export._load_metadata(dest)
    spec = next(
        p for p in doc["partition-specs"]
        if p["spec-id"] == doc["default-spec-id"]
    )
    assert any(
        pf["transform"] == "bucket[4]" for pf in spec["fields"]
    ), spec["fields"]

    # manifest partition values: NULL for legacy-era files, murmur3 for
    # new-era files
    snap = next(
        s for s in doc["snapshots"]
        if s["snapshot-id"] == doc["current-snapshot-id"]
    )
    with open(snap["manifest-list"], "rb") as fh:
        _, _, mls = avro_ocf.read_ocf(fh.read())
    vals = []
    for mf in mls:
        if mf["content"] != 0:
            continue
        with open(mf["manifest_path"], "rb") as fh:
            _, _, entries = avro_ocf.read_ocf(fh.read())
        vals += [e["data_file"]["partition"]["id_bucket"] for e in entries]
    assert None in vals  # legacy era exported as null
    assert any(v is not None for v in vals)  # murmur3 era exported real

    # exact round trip, and an external point read on a NEW-era key
    # prunes to the murmur3 bucket while still returning exactly the row
    got = sorted(
        (r.id, r.v)
        for r in iceberg_export.read_iceberg(spark, dest).collect()
    )
    want = sorted([(i, f"v{i}") for i in range(50)]
                  + [(1000 + i, f"n{i}") for i in range(50)])
    assert got == want
    one = iceberg_export.read_iceberg(
        spark, dest, eq_filters={"id": 1007}
    ).collect()
    assert [(r.id, r.v) for r in one] == [(1007, "n7")]
    # and a legacy-era key still resolves (scanned via the null entries)
    one2 = iceberg_export.read_iceberg(
        spark, dest, eq_filters={"id": 7}
    ).collect()
    assert [(r.id, r.v) for r in one2] == [(7, "v7")]


# ---------------------------------------------------------------------------
# round 7: incremental changelog (CDC read) between mirror snapshots
# ---------------------------------------------------------------------------


def _snap_ids(dest):
    doc = iceberg_export._load_metadata(dest)
    return [s["snapshot-id"] for s in doc["snapshots"]]


def test_changelog_plan_cancels_unchanged_files(spark, sf_dir):
    """Data files present in both snapshots under an identical
    applicable-delete view are pruned from BOTH scans before any IO —
    the metadata-only guarantee that makes the changelog O(changed
    files), not O(table)."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation.filter(F.col("n_nationkey") < 10).repartition(3))
    dest = tempfile.mkdtemp(prefix="iceexp_cl_")
    iceberg_export.export_iceberg(table, dest)
    s1 = _snap_ids(dest)[-1]
    iceberg_export.append_iceberg(
        spark, dest, nation.filter(F.col("n_nationkey") >= 10).coalesce(1)
    )
    doc = iceberg_export._load_metadata(dest)
    s2 = doc["current-snapshot-id"]
    keep_from, keep_to, cancelled = iceberg_export._changelog_file_plan(
        doc, s1, s2
    )
    # every s1 file is unchanged -> cancelled; only the appended file scans
    assert keep_from == set()
    assert len(keep_to) == 1
    assert len(cancelled) >= 1
    out = iceberg_export.changelog_iceberg(spark, dest, s1)
    rows = {(r.n_nationkey, r._change_type, r._n) for r in out.collect()}
    assert rows == {(k, "INSERT", 1) for k in range(10, 25)}


def test_changelog_delete_uncancels_scoped_files(spark, sf_dir):
    """An equality delete added between the snapshots changes the
    applicable-delete view of every file it scopes — those files must
    scan on both sides and the removed rows surface as DELETEs."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_cl_")
    iceberg_export.export_iceberg(table, dest)
    s1 = _snap_ids(dest)[-1]
    iceberg_export.delete_where_iceberg(
        spark, dest, F.col("n_regionkey") == 2, ["n_nationkey"]
    )
    doc = iceberg_export._load_metadata(dest)
    s2 = doc["current-snapshot-id"]
    keep_from, keep_to, _ = iceberg_export._changelog_file_plan(doc, s1, s2)
    # the delete scopes every pre-existing data file: nothing cancels
    assert keep_from == keep_to and len(keep_from) >= 1
    out = iceberg_export.changelog_iceberg(spark, dest, s1)
    want = {
        (r.n_nationkey, "DELETE", 1)
        for r in nation.filter(F.col("n_regionkey") == 2).collect()
    }
    got = {(r.n_nationkey, r._change_type, r._n) for r in out.collect()}
    assert got == want


def test_changelog_update_surfaces_as_delete_insert_pair(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_cl_")
    iceberg_export.export_iceberg(table, dest)
    s1 = _snap_ids(dest)[-1]
    iceberg_export.update_where_iceberg(
        spark,
        dest,
        F.col("n_nationkey") == 3,
        {"n_name": F.lit("RENAMED")},
        ["n_nationkey"],
    )
    out = iceberg_export.changelog_iceberg(spark, dest, s1)
    got = {(r.n_nationkey, r.n_name, r._change_type) for r in out.collect()}
    old_name = nation.filter(F.col("n_nationkey") == 3).collect()[0].n_name
    assert got == {(3, old_name, "DELETE"), (3, "RENAMED", "INSERT")}


def test_changelog_identity_and_same_snapshot_empty(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_cl_")
    iceberg_export.export_iceberg(table, dest)
    s1 = _snap_ids(dest)[-1]
    assert iceberg_export.changelog_iceberg(spark, dest, s1, s1).count() == 0
    # maintenance between the snapshots is invisible to the changelog
    iceberg_export.rewrite_manifests_iceberg(dest)
    doc = iceberg_export._load_metadata(dest)
    assert (
        iceberg_export.changelog_iceberg(
            spark, dest, s1, doc["current-snapshot-id"]
        ).count()
        == 0
    )


def test_changelog_across_schema_evolution_reads_to_era(spark, sf_dir):
    """The diff is computed under the TO snapshot's schema: FROM rows
    missing a later-added column read as typed NULL, so an old row
    surviving unchanged still cancels (NULL-for-NULL) while changed
    rows carry the new column."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_cl_")
    iceberg_export.export_iceberg(table, dest)
    s1 = _snap_ids(dest)[-1]
    iceberg_export.evolve_schema_iceberg(dest, add={"note": "string"})
    extra = spark.createDataFrame(
        [(99, "ZETA", 0, "fresh")],
        schema="n_nationkey int, n_name string, n_regionkey int, note string",
    )
    iceberg_export.append_iceberg(spark, dest, extra)
    out = iceberg_export.changelog_iceberg(spark, dest, s1)
    rows = [(r.n_nationkey, r.n_name, r.note, r._change_type) for r in out.collect()]
    assert rows == [(99, "ZETA", "fresh", "INSERT")]


def test_changelog_rejects_unknown_snapshot(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_cl_")
    iceberg_export.export_iceberg(table, dest)
    with pytest.raises(ValueError, match="no such snapshot"):
        iceberg_export.changelog_iceberg(spark, dest, 123456789)


def test_decimal_columns_through_mirror_lifecycle(spark, sf_dir):
    """decimal(p,s) columns ride the whole mirror surface: export,
    schema-fill paths (empty read, changelog), decimal ADD via
    evolve_schema (spacing-canonicalized so append's type-string check
    accepts it), append, changelog across the evolution, zero-copy
    import, and the byte-level conformance gate. A bare
    _ICEBERG_TO_SPARK lookup used to degrade decimal to string on the
    fill paths."""
    from decimal import Decimal

    from tools.spec_conformance import check_table

    df = spark.createDataFrame(
        [(i, Decimal(f"{i}.25")) for i in range(10)],
        "id long, amt decimal(20,2)",
    )
    table = _table(spark, df)
    dest = tempfile.mkdtemp(prefix="iceexp_dec_")
    iceberg_export.export_iceberg(table, dest)
    sid = iceberg_export._load_metadata(dest)["current-snapshot-id"]
    # empty-diff path must carry the decimal type, not string
    empty = iceberg_export.changelog_iceberg(spark, dest, sid, sid)
    assert "decimal(20,2)" in empty.schema.simpleString()
    from iceberg_relative_io_spark.sources.iceberg_mirror_source import (
        IcebergMirrorDataSource,
    )

    src = IcebergMirrorDataSource(options={"path": dest})
    assert "decimal(20,2)" in src.schema().simpleString()
    iceberg_export.evolve_schema_iceberg(dest, add={"fee": "decimal(10,3)"})
    iceberg_export.append_iceberg(
        spark,
        dest,
        spark.createDataFrame(
            [(100, Decimal("1.25"), Decimal("0.125"))],
            "id long, amt decimal(20,2), fee decimal(10,3)",
        ),
    )
    cl = iceberg_export.changelog_iceberg(spark, dest, sid)
    rows = [(r.id, str(r.amt), str(r.fee), r._change_type) for r in cl.collect()]
    assert rows == [(100, "1.25", "0.125", "INSERT")]
    wh = tempfile.mkdtemp(prefix="iceexp_dec_wh_")
    cat = FsCatalog(wh)
    cat.create_namespace(("ns",))
    imp = iceberg_export.import_iceberg(spark, cat, ("ns",), "imp", dest)
    assert imp.read(spark).count() == 11
    assert check_table(dest) == []


def test_changelog_across_rename_carries_one_name(spark, sf_dir):
    """A column renamed BETWEEN the changelog endpoints must carry one
    name across the diff (both reads resolve under the TO era's schema;
    the FROM side's old physical name resolves through the
    name-mapping). Before the round-7 review fix, the FROM read used
    its own era schema, so every unchanged row in a non-cancelled file
    surfaced as a spurious DELETE(new=NULL)+INSERT pair."""
    nation = load_table(spark, sf_dir, "nation")
    table = _table(spark, nation)
    dest = tempfile.mkdtemp(prefix="iceexp_clrn_")
    iceberg_export.export_iceberg(table, dest)
    s1 = _snap_ids(dest)[-1]
    iceberg_export.evolve_schema_iceberg(dest, rename={"n_name": "nation_name"})
    # a delete AFTER the rename makes the pre-rename files non-cancelled
    iceberg_export.delete_where_iceberg(
        spark, dest, F.col("n_nationkey") == 3, ["n_nationkey"]
    )
    out = iceberg_export.changelog_iceberg(spark, dest, s1)
    rows = [(r.n_nationkey, r.nation_name, r._change_type) for r in out.collect()]
    old_name = nation.filter(F.col("n_nationkey") == 3).collect()[0].n_name
    # exactly the deleted row, under the NEW column name with its real value
    assert rows == [(3, old_name, "DELETE")]


def test_bucket_column_exact_above_2pow53_with_nulls(spark):
    """A null in the Arrow batch can demote int64 to float64 in pandas,
    rounding values beyond 2^53 BEFORE hashing — a silently wrong
    bucket (wrong placement + wrong pruning). The transform now
    null-coalesces Spark-side so batches stay pure int64."""
    from iceberg_relative_io_spark.catalog.bucket_hash import (
        bucket_column,
        bucket_value,
    )

    from pyspark.sql import types as T

    big = (1 << 53) + 1
    df = spark.createDataFrame(
        [(big,), (None,), (big + 2,)], "v long"
    ).coalesce(1)
    got = {
        r.v: r.b
        for r in df.select(
            "v", bucket_column("v", 16, T.LongType()).alias("b")
        ).collect()
    }
    assert got[big] == bucket_value(big, 16)
    assert got[big + 2] == bucket_value(big + 2, 16)
    assert got[None] is None


def test_bucket_column_ntz_is_session_timezone_free(spark):
    """NTZ bucket ids must hash the WALL-CLOCK micros (the spec's
    rule): the old NTZ->timestamp cast routed through the session
    timezone, so a non-UTC session wrote buckets that disagreed with
    every compliant reader."""
    import datetime

    from iceberg_relative_io_spark.catalog.bucket_hash import (
        bucket_column,
        bucket_value,
    )

    from pyspark.sql import types as T

    val = datetime.datetime(2024, 1, 1, 0, 0, 0, 123456)
    df = spark.createDataFrame([(val,)], "t timestamp_ntz")
    before = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = df.select(
                bucket_column("t", 64, T.TimestampNTZType()).alias("b")
            ).collect()[0].b
            assert got == bucket_value(val, 64), tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)


def test_bucket_value_out_of_int64_range_raises_typeerror():
    """Pruning callers guard on TypeError only; struct.error from the
    int64 pack would crash scan planning instead of keeping all files."""
    from iceberg_relative_io_spark.catalog.bucket_hash import bucket_value

    with pytest.raises(TypeError, match="int64"):
        bucket_value(1 << 63, 4)
    with pytest.raises(TypeError, match="int64"):
        bucket_value(-(1 << 63) - 1, 4)


def test_mirror_epoch_probe_survives_snapshot_expiry(spark):
    """Round-11 advice: the mirror sink's replayed-epoch guard used to
    scan snapshot summaries only, so expire_snapshots_iceberg running
    between a sink crash and the epoch replay could reap the marker
    snapshot and let the replayed epoch double-commit into the mirror.
    append_iceberg now persists the stream.epoch.<ckpt> property (max
    batch id per checkpoint) in the same atomic metadata commit, and
    seen_stream_epoch_iceberg probes it before the summary scan —
    the exact expiry-proof contract the native format already had
    (test_epoch_probe_survives_snapshot_expiry)."""
    from iceberg_relative_io_spark.streaming.stream_queries import _epoch_key

    cat = FsCatalog(tempfile.mkdtemp(prefix="iceepoch_wh_"))
    cat.create_namespace(("ns",))
    df0 = spark.createDataFrame([(0, "seed")], "id long, v string")
    ops = cat.create_table(("ns",), "t", df0.schema.jsonValue())
    table = RelativeTable(ops)
    dest = tempfile.mkdtemp(prefix="iceepoch_out_")
    iceberg_export.export_iceberg(table, dest)  # empty seed
    ckpt = "/tmp/some_mirror_checkpoint"

    for epoch in range(3):
        key = _epoch_key(ckpt, epoch)
        assert not iceberg_export.seen_stream_epoch_iceberg(dest, key)
        iceberg_export.append_iceberg(
            spark,
            dest,
            spark.createDataFrame([(epoch, "x")], "id long, v string"),
            extra_summary={"stream-batch-id": key},
        )
        assert iceberg_export.seen_stream_epoch_iceberg(dest, key)

    # aggressive GC reaps the marker snapshots outright — the summary
    # scan alone would forget the committed epochs
    gone = iceberg_export.expire_snapshots_iceberg(dest, keep_last=1)
    assert gone["expired"] >= 3
    doc = iceberg_export._load_metadata(dest)
    live_keys = [
        s.get("summary", {}).get("stream-batch-id") for s in doc["snapshots"]
    ]
    assert not any(k == _epoch_key(ckpt, 0) for k in live_keys)
    for epoch in range(3):
        assert iceberg_export.seen_stream_epoch_iceberg(
            dest, _epoch_key(ckpt, epoch)
        )
    # a later epoch on the same checkpoint is still unseen; a DIFFERENT
    # checkpoint's epoch 0 must not be swallowed either
    assert not iceberg_export.seen_stream_epoch_iceberg(
        dest, _epoch_key(ckpt, 3)
    )
    assert not iceberg_export.seen_stream_epoch_iceberg(
        dest, _epoch_key("/tmp/other_ckpt", 0)
    )
    # one bounded property per checkpoint, holding the max batch id
    marks = {
        k: v
        for k, v in doc.get("properties", {}).items()
        if k.startswith("stream.epoch.")
    }
    assert list(marks.values()) == ["2"], marks
    # legacy bare keys (no checkpoint scope) still use the summary scan
    iceberg_export.append_iceberg(
        spark,
        dest,
        spark.createDataFrame([(9, "y")], "id long, v string"),
        extra_summary={"stream-batch-id": "bare-key"},
    )
    assert iceberg_export.seen_stream_epoch_iceberg(dest, "bare-key")


# ---------------------------------------------------------------------------
# one commit protocol: the mirror commits through TableOperations
# ---------------------------------------------------------------------------


def test_export_into_advanced_mirror_raises_and_keeps_it(spark, sf_dir):
    """v1 of an export is committed create-if-absent, so exporting into
    a directory whose mirror has moved past v1 fails instead of writing
    a v1 the forward probe would never reach; the existing mirror stays
    the table and reads return its rows."""
    nation = load_table(spark, sf_dir, "nation")
    dest = tempfile.mkdtemp(prefix="iceexp_reexport_")
    iceberg_export.export_iceberg(
        _table(spark, nation.filter(F.col("n_nationkey") < 5)), dest
    )
    iceberg_export.append_iceberg(
        spark, dest, nation.filter(F.col("n_nationkey") == 5).coalesce(1)
    )
    other = _table(spark, nation.filter(F.col("n_nationkey") >= 20))
    with pytest.raises(ValueError, match="already holds Iceberg metadata"):
        iceberg_export.export_iceberg(other, dest)
    assert iceberg_export._mirror_ops(dest).find_version() == 2
    got = sorted(
        r.n_nationkey for r in iceberg_export.read_iceberg(spark, dest).collect()
    )
    assert got == list(range(6))


@pytest.mark.parametrize("hint", ["torn", "behind", "past"])
@pytest.mark.parametrize("fmt", ["native", "mirror"])
def test_version_hint_recovery_both_formats(spark, fmt, hint):
    """Both formats resolve their head through one protocol, so each
    bad ``version-hint.text`` recovers the same way: torn -> directory
    scan, behind the head -> forward probe, naming a version with no
    file -> directory scan. Each resolves to the true head (v3), and
    the next commit lands at v4 and moves the hint there."""
    import os

    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(4)], "id long, name string"
    )
    cat = FsCatalog(tempfile.mkdtemp(prefix="hint_wh_"))
    cat.create_namespace(("ns",))
    table = RelativeTable(cat.create_table(("ns",), "t", df.schema.jsonValue()))
    table.append(df.filter("id = 0"))
    if fmt == "native":
        table.append(df.filter("id = 1"))  # create + 2 appends: v3
        meta_dir = table.ops.io.absolute(table.ops.metadata_dir)

        def resolve():
            ops = cat.load_table(("ns",), "t")
            return ops.current_version(), RelativeTable(ops).read(spark).count()

        def commit():
            RelativeTable(cat.load_table(("ns",), "t")).append(df.filter("id = 2"))
    else:
        dest = tempfile.mkdtemp(prefix="hint_mirror_")
        iceberg_export.export_iceberg(table, dest)  # v1
        for i in (1, 2):  # v2, v3
            iceberg_export.append_iceberg(
                spark, dest, df.filter(F.col("id") == i).coalesce(1)
            )
        meta_dir = os.path.join(dest, "metadata")

        def resolve():
            _ops, _doc, version = iceberg_export._open_mirror(dest)
            assert iceberg_export._mirror_ops(dest).find_version() == version
            return version, iceberg_export.read_iceberg(spark, dest).count()

        def commit():
            iceberg_export.append_iceberg(
                spark, dest, df.filter(F.col("id") == 3).coalesce(1)
            )

    version, rows = resolve()
    assert version == 3
    hint_file = os.path.join(meta_dir, "version-hint.text")
    with open(hint_file, "w") as fh:
        fh.write({"torn": "", "behind": "1", "past": "7"}[hint])
    assert resolve() == (3, rows)
    commit()
    assert os.path.exists(os.path.join(meta_dir, "v4.metadata.json"))
    assert not os.path.exists(os.path.join(meta_dir, "v5.metadata.json"))
    with open(hint_file) as fh:
        assert fh.read().strip() == "4"
    assert resolve() == (4, rows + 1)


def test_every_mirror_version_commits_through_table_operations(
    spark, sf_dir, monkeypatch
):
    """No module but table_ops writes mirror metadata: for each mirror
    mutator, the ``v*.metadata.json`` files it adds equal the
    ``TableOperations.commit`` calls it makes (one each here)."""
    import glob
    import os

    from iceberg_relative_io_spark.catalog.table_ops import TableOperations

    nation = load_table(spark, sf_dir, "nation")
    table = _table(
        spark, nation.filter(F.col("n_nationkey") < 10),
        partition_by=["n_regionkey"],
    )
    dest = tempfile.mkdtemp(prefix="iceexp_ops_")
    calls: list[int] = []
    real_commit = TableOperations.commit

    def counting_commit(self, base_version, metadata):
        calls.append(base_version)
        return real_commit(self, base_version, metadata)

    monkeypatch.setattr(TableOperations, "commit", counting_commit)

    def row(key, region):
        return spark.createDataFrame(
            [(key, f"N{key}", region)], schema=nation.schema
        )

    results: dict[str, dict] = {}
    ie = iceberg_export
    steps = [
        ("export_iceberg", lambda: ie.export_iceberg(table, dest)),
        ("append_iceberg", lambda: ie.append_iceberg(spark, dest, row(30, 0))),
        ("write_position_deletes", lambda: ie.write_position_deletes(
            dest, {_first_data_file(dest): [0]})),
        ("delete_where_iceberg", lambda: ie.delete_where_iceberg(
            spark, dest, F.col("n_nationkey") == 1, ["n_nationkey"])),
        ("delete_positions_iceberg", lambda: ie.delete_positions_iceberg(
            spark, dest, F.col("n_nationkey") == 2)),
        ("update_where_iceberg", lambda: ie.update_where_iceberg(
            spark, dest, F.col("n_nationkey") == 3,
            {"n_name": F.lit("UPD")}, ["n_nationkey"])),
        ("merge_iceberg", lambda: ie.merge_iceberg(
            spark, dest, row(4, 4), ["n_nationkey"])),
        ("overwrite_partitions_iceberg", lambda: ie.overwrite_partitions_iceberg(
            spark, dest, row(40, 3))),
        ("compact_iceberg", lambda: ie.compact_iceberg(spark, dest)),
        ("set_ref_iceberg", lambda: ie.set_ref_iceberg(dest, "tag1")),
        ("append_iceberg", lambda: ie.append_iceberg(spark, dest, row(31, 1))),
        ("evolve_schema_iceberg", lambda: ie.evolve_schema_iceberg(
            dest, add={"n_note": "string"})),
        ("rewrite_manifests_iceberg", lambda: ie.rewrite_manifests_iceberg(dest)),
        ("rollback_iceberg", lambda: ie.rollback_iceberg(
            dest, results["compact_iceberg"]["snapshot-id"])),
        ("expire_snapshots_iceberg", lambda: ie.expire_snapshots_iceberg(
            dest, keep_last=1)),
        ("drop_ref_iceberg", lambda: ie.drop_ref_iceberg(dest, "tag1")),
    ]

    def versions() -> int:
        return len(glob.glob(os.path.join(dest, "metadata", "v*.metadata.json")))

    for name, step in steps:
        before, n_calls = versions(), len(calls)
        results[name] = step()
        added, committed = versions() - before, len(calls) - n_calls
        assert added == committed == 1, (name, added, committed)
    assert calls == list(range(len(steps)))  # v1..vN, each from its base
    assert iceberg_export.read_iceberg(spark, dest).count() > 0


# ---------------------------------------------------------------------------
# write layout: rows cluster by partition before a partitioned write
# ---------------------------------------------------------------------------

_LAYOUT_SCHEMA = "id long, part int, v string"


def _layout_mirror(spark):
    """A mirror partitioned by ``part`` (8 values, 6 rows each),
    exported from a native table, and its rows."""
    rows = [(i, i % 8, f"r{i}") for i in range(48)]
    table = _table(
        spark, spark.createDataFrame(rows, _LAYOUT_SCHEMA), partition_by=["part"]
    )
    dest = tempfile.mkdtemp(prefix="iceexp_layout_")
    iceberg_export.export_iceberg(table, dest)
    return dest, rows


def test_mirror_writes_one_file_per_partition_value(spark):
    """append, merge and compact each write exactly one data file per
    partition value from an input of 3 Spark partitions that each span
    every value: rows are distributed by the layout column before the
    partitioned write, so no task writes a slice of a value."""
    from collections import Counter

    dest, rows = _layout_mirror(spark)
    one_each = {p: 1 for p in range(8)}

    def files_per_part_written_by(step) -> dict:
        before = {e["data_file"]["file_path"] for e in _head_data_entries(dest)}
        step()
        return dict(
            Counter(
                e["data_file"]["partition"]["part"]
                for e in _head_data_entries(dest)
                if e["data_file"]["file_path"] not in before
            )
        )

    batch = [(100 + i, i % 8, "a") for i in range(48)]
    batch_df = spark.createDataFrame(batch, _LAYOUT_SCHEMA).repartition(3)
    assert batch_df.rdd.getNumPartitions() == 3
    assert files_per_part_written_by(
        lambda: iceberg_export.append_iceberg(spark, dest, batch_df)
    ) == one_each
    # 8 matched keys (one per value) and 40 new ones
    source = [(i, i % 8, "m") for i in range(8)] + [
        (200 + i, i % 8, "n") for i in range(40)
    ]
    source_df = spark.createDataFrame(source, _LAYOUT_SCHEMA).repartition(3)
    assert files_per_part_written_by(
        lambda: iceberg_export.merge_iceberg(spark, dest, source_df, ["id"])
    ) == one_each
    assert files_per_part_written_by(
        lambda: iceberg_export.compact_iceberg(spark, dest)
    ) == one_each
    expect = {r[0]: r for r in rows + batch}
    expect.update({r[0]: r for r in source})
    got = iceberg_export.read_iceberg(spark, dest).select("id", "part", "v")
    assert sorted(map(tuple, got.collect())) == sorted(expect.values())


@pytest.mark.parametrize("fmt", ["native", "mirror"])
def test_hot_partition_value_splits_across_files(spark, fmt):
    """A partition value far past the advisory partition size is written
    by several tasks, as several files (AQE splits the rebalanced
    partition), in both formats; no row is lost or duplicated."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    saved = spark.conf.get(key, None)
    # 4000 rows, 95% of them in part=0
    df = spark.range(4000).select(
        F.col("id"),
        F.when(F.col("id") % 20 == 0, F.col("id") % 7 + 1)
        .otherwise(0)
        .cast("int")
        .alias("part"),
        F.lit("v").alias("v"),
    ).repartition(4)
    spark.conf.set(key, "8k")
    try:
        if fmt == "native":
            table = _table(spark, df, partition_by=["part"])
            parts = [f["partition"]["part"] for f in table.scan_files()]
            got = table.read(spark)
        else:
            table = _table(spark, df.limit(0), partition_by=["part"])
            dest = tempfile.mkdtemp(prefix="iceexp_hot_")
            iceberg_export.export_iceberg(table, dest)
            iceberg_export.append_iceberg(spark, dest, df)
            parts = [
                e["data_file"]["partition"]["part"]
                for e in _head_data_entries(dest)
            ]
            got = iceberg_export.read_iceberg(spark, dest)
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    # the native manifest keeps partition values as strings
    assert [str(p) for p in parts].count("0") > 1
    assert sorted(map(tuple, got.select("id", "part", "v").collect())) == sorted(
        map(tuple, df.collect())
    )


def test_sidecars_reaped_with_their_files(spark):
    """compact, expire, then an orphan sweep leave no Hadoop ``.crc``
    without its file and no directory under ``data/`` without a live
    data file: deleters remove a file's sidecar with it, and the sweep
    reaps a write's ``_SUCCESS`` once none of its files is left."""
    import os as _os

    dest, _ = _layout_mirror(spark)
    batch = spark.createDataFrame(
        [(100 + i, i % 8, "a") for i in range(24)], _LAYOUT_SCHEMA
    )
    iceberg_export.append_iceberg(spark, dest, batch.repartition(3))
    iceberg_export.delete_where_iceberg(
        spark, dest, F.col("id") == 100, ["id"]
    )
    iceberg_export.delete_positions_iceberg(spark, dest, F.col("id") == 101)
    iceberg_export.compact_iceberg(spark, dest)
    iceberg_export.expire_snapshots_iceberg(dest, keep_last=1)
    iceberg_export.remove_orphan_files_iceberg(dest, older_than_s=0)

    live = {e["data_file"]["file_path"] for e in _head_data_entries(dest)}
    data_root = _os.path.join(dest, "data")
    for base, dirs, names in _os.walk(data_root):
        for name in names:
            if name.endswith(".crc"):
                assert name[1:-4] in names, _os.path.join(base, name)
        if base != data_root:
            assert any(p.startswith(base + _os.sep) for p in live), base
    assert iceberg_export.read_iceberg(spark, dest).count() == 48 + 24 - 2
