#!/usr/bin/env python3
"""Writer-independent Iceberg v2 spec conformance gate (round 7).

Walks an exported table directory and validates the RAW BYTES against
spec constants — deliberately importing NOTHING from
``iceberg_relative_io_spark`` (in particular not ``iceberg_export`` or
``avro_ocf``), so a shared wrong assumption between the repo's writer
and its spec-path reader cannot hide here. The Avro OCF container is
parsed by a self-contained decoder written from the public Avro 1.11
spec; parquet payloads are inspected through pyarrow (a third-party
reader, not the repo's).

Checked, per the Iceberg v2 table spec and the reference example
(/root/reference/README.md:24-109):

- version-hint.text -> vN[.gz].metadata.json resolves; gzip honored.
- metadata.json: the reference example's full top-level key set;
  format-version=2; schemas with unique positive field ids bounded by
  last-column-id; partition-spec field-ids >= 1000 with known
  transforms, bounded by last-partition-id; refs typed branch|tag with
  main -> current-snapshot-id; snapshot entries' key set incl.
  summary.operation; snapshot-log/metadata-log EXACT per-entry key sets
  ({timestamp-ms, snapshot-id} / {timestamp-ms, metadata-file});
  snapshot-log ids resolve among retained snapshots; timestamps
  non-decreasing in both logs.
- every snapshot's manifest list: Avro OCF magic ``Obj\\x01``, metadata
  map carries avro.schema + a supported avro.codec, every block sealed
  by the header's 16-byte sync marker; the declared schema's field ids
  are EXACTLY the spec's manifest_file ids (500-517); decoded entries
  have content in {0,1} and sequence_number >= min_sequence_number;
  each record's added / existing / deleted file and row counts equal
  its manifest's entries with status 1 / 0 / 2 (their count and summed
  record_count), and its sequence_number / min_sequence_number equal
  the max / min of the entries' sequence numbers (every entry, status=2
  included: a min at or below the spec's live-entry min never makes a
  reader skip a delete it needs).
- every manifest: OCF as above; manifest_entry ids (0,1,3,4,2) and
  data_file ids (134 content, 100 file_path, 101 file_format,
  102 partition, 103 record_count, 104 file_size_in_bytes,
  135 equality_ids, 125/128 bounds with k/v ids 126/127 + 129/130);
  partition struct field ids match the metadata partition-spec;
  status in {0,1,2}; content=2 entries carry non-empty equality_ids
  that resolve to schema field ids, content=1 entries carry none;
  bound values decode at the exact fixed width of their column type.
- every live parquet payload: exists, record_count and
  file_size_in_bytes match the actual file; position-delete files
  declare the reserved field ids 2147483546/2147483545 and are sorted
  by (file_path, pos).
- location rule: every recorded METADATA-plane path (manifest-list,
  manifest, metadata-log file) is either relative or resolves UNDER the
  table's recorded location. Data/delete files are exempt — Iceberg's
  add_files/import semantics allow data anywhere, and the repo's
  export_iceberg is deliberately zero-copy (existence is still
  checked, as are record_count/file_size against the actual parquet).

Usage: python tools/spec_conformance.py <table_dir> [...]
Exit 0 = conformant. Also importable: ``check_table(dir) -> [errors]``.
"""

from __future__ import annotations

import gzip
import io
import json
import os
import re
import struct
import sys
import zlib

MAGIC = b"Obj\x01"

# spec: manifest_file (the manifest-list entry record)
MANIFEST_FILE_IDS = {
    "manifest_path": 500,
    "manifest_length": 501,
    "partition_spec_id": 502,
    "content": 517,
    "sequence_number": 515,
    "min_sequence_number": 516,
    "added_snapshot_id": 503,
    "added_data_files_count": 504,
    "existing_data_files_count": 505,
    "deleted_data_files_count": 506,
    "added_rows_count": 512,
    "existing_rows_count": 513,
    "deleted_rows_count": 514,
}
MANIFEST_ENTRY_IDS = {
    "status": 0,
    "snapshot_id": 1,
    "sequence_number": 3,
    "file_sequence_number": 4,
    "data_file": 2,
}
DATA_FILE_IDS = {
    "content": 134,
    "file_path": 100,
    "file_format": 101,
    "partition": 102,
    "record_count": 103,
    "file_size_in_bytes": 104,
    "column_sizes": 108,
    "value_counts": 109,
    "null_value_counts": 110,
    "nan_value_counts": 137,
    "lower_bounds": 125,
    "upper_bounds": 128,
    "key_metadata": 131,
    "split_offsets": 132,
    "equality_ids": 135,
    "sort_order_id": 140,
}
BOUND_KV_IDS = {"lower_bounds": (126, 127), "upper_bounds": (129, 130)}
POS_DELETE_FILE_PATH_ID = 2147483546
POS_DELETE_POS_ID = 2147483545

METADATA_KEYS = {
    "format-version", "table-uuid", "location", "last-sequence-number",
    "last-updated-ms", "last-column-id", "current-schema-id", "schemas",
    "default-spec-id", "partition-specs", "last-partition-id",
    "default-sort-order-id", "sort-orders", "properties",
    "current-snapshot-id", "refs", "snapshots", "statistics",
    "partition-statistics", "snapshot-log", "metadata-log",
}
SNAPSHOT_KEYS = {
    "sequence-number", "snapshot-id", "timestamp-ms", "summary",
    "manifest-list", "schema-id",
}
TRANSFORM_RE = re.compile(
    r"^(identity|void|year|month|day|hour|bucket\[\d+\]|truncate\[\d+\])$"
)
FIXED_WIDTH = {
    "int": 4, "date": 4, "float": 4,
    "long": 8, "double": 8, "time": 8, "timestamp": 8, "timestamptz": 8,
}


# ---------------------------------------------------------------------------
# minimal Avro decoder (written from the Avro 1.11 spec)
# ---------------------------------------------------------------------------

class _Reader:
    def __init__(self, data: bytes):
        self.buf = io.BytesIO(data)

    def read(self, n: int) -> bytes:
        b = self.buf.read(n)
        if len(b) != n:
            raise ValueError("truncated avro data")
        return b

    def long(self) -> int:
        # zigzag varint
        shift, acc = 0, 0
        while True:
            (b,) = self.read(1)
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def string(self) -> str:
        return self.read(self.long()).decode("utf-8")

    def bytes_(self) -> bytes:
        return self.read(self.long())

    def decode(self, schema):
        if isinstance(schema, str):
            t = schema
        elif isinstance(schema, dict):
            t = schema["type"]
        elif isinstance(schema, list):  # union
            idx = self.long()
            if not 0 <= idx < len(schema):
                raise ValueError(f"union index {idx} out of range")
            return self.decode(schema[idx])
        else:
            raise ValueError(f"bad schema node: {schema!r}")
        if t == "null":
            return None
        if t == "boolean":
            return self.read(1) != b"\x00"
        if t in ("int", "long"):
            return self.long()
        if t == "float":
            return struct.unpack("<f", self.read(4))[0]
        if t == "double":
            return struct.unpack("<d", self.read(8))[0]
        if t == "string":
            return self.string()
        if t == "bytes":
            return self.bytes_()
        if t == "record":
            return {
                f["name"]: self.decode(f["type"]) for f in schema["fields"]
            }
        if t == "array":
            out = []
            while True:
                n = self.long()
                if n == 0:
                    break
                if n < 0:
                    self.long()  # block byte size, unused
                    n = -n
                out += [self.decode(schema["items"]) for _ in range(n)]
            return out
        if t == "map":
            out = {}
            while True:
                n = self.long()
                if n == 0:
                    break
                if n < 0:
                    self.long()
                    n = -n
                for _ in range(n):
                    k = self.string()
                    out[k] = self.decode(schema["values"])
            return out
        raise ValueError(f"unsupported avro type: {t}")


def read_ocf(data: bytes) -> tuple[dict, dict[str, bytes], list]:
    """(schema_json, file_metadata, records) from raw OCF bytes."""
    r = _Reader(data)
    if r.read(4) != MAGIC:
        raise ValueError("bad OCF magic (expected Obj\\x01)")
    meta: dict[str, bytes] = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:
            r.long()
            n = -n
        for _ in range(n):
            # NB: assignment evaluates the RHS first — read key, then
            # value, explicitly
            k = r.string()
            meta[k] = r.bytes_()
    sync = r.read(16)
    if "avro.schema" not in meta:
        raise ValueError("OCF header missing avro.schema")
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro.codec {codec!r}")
    records = []
    while r.buf.tell() < len(data):
        count = r.long()
        size = r.long()
        block = r.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        br = _Reader(block)
        records += [br.decode(schema) for _ in range(count)]
        if r.read(16) != sync:
            raise ValueError("block sync marker mismatch")
    return schema, meta, records


# ---------------------------------------------------------------------------
# conformance walk
# ---------------------------------------------------------------------------

def _field_ids(schema: dict) -> dict[str, int | None]:
    return {f["name"]: f.get("field-id") for f in schema.get("fields", [])}


def _unwrap(node):
    """Peel union-with-null to the non-null branch."""
    if isinstance(node, list):
        non_null = [x for x in node if x != "null"]
        return non_null[0] if len(non_null) == 1 else node
    return node


def _norm(p: str) -> str:
    return "/" + re.sub(r"^([A-Za-z][A-Za-z0-9+.\-]*:)?/*", "", p)


def check_table(table_dir: str) -> list[str]:
    errs: list[str] = []

    def err(msg: str) -> None:
        errs.append(msg)

    # --- resolve current metadata through the hint ---
    hint = os.path.join(table_dir, "metadata", "version-hint.text")
    if not os.path.exists(hint):
        return [f"missing {hint}"]
    version = int(open(hint).read().strip())
    doc = None
    for name in (f"v{version}.metadata.json", f"v{version}.gz.metadata.json"):
        p = os.path.join(table_dir, "metadata", name)
        if os.path.exists(p):
            raw = open(p, "rb").read()
            if name.endswith(".gz.metadata.json"):
                raw = gzip.decompress(raw)
            doc = json.loads(raw)
            break
    if doc is None:
        return [f"version hint {version} resolves to no metadata file"]

    # --- metadata.json shape (reference README.md:24-109 key set) ---
    missing = METADATA_KEYS - set(doc)
    if missing:
        err(f"metadata.json missing keys: {sorted(missing)}")
    if doc.get("format-version") != 2:
        err(f"format-version must be 2, got {doc.get('format-version')}")

    loc = _norm(str(doc.get("location", table_dir))).rstrip("/") + "/"

    def check_loc(path: str, what: str) -> None:
        if not os.path.isabs(path) and "://" not in path:
            return  # relative paths are always location-safe
        if not _norm(path).startswith(loc):
            err(f"{what} {path!r} escapes table location {loc!r}")

    schema_ids_by_schema: dict[int, set[int]] = {}
    for s in doc.get("schemas", []):
        ids = [f["id"] for f in s.get("fields", [])]
        if len(ids) != len(set(ids)):
            err(f"schema {s.get('schema-id')} has duplicate field ids")
        if any(i <= 0 for i in ids):
            err(f"schema {s.get('schema-id')} has non-positive field ids")
        if ids and max(ids) > doc.get("last-column-id", 0):
            err(
                f"schema {s.get('schema-id')} max field id {max(ids)} "
                f"exceeds last-column-id {doc.get('last-column-id')}"
            )
        schema_ids_by_schema[s.get("schema-id")] = set(ids)
    if doc.get("current-schema-id") not in schema_ids_by_schema:
        err("current-schema-id resolves to no schema")

    specs_by_id: dict[int, list[dict]] = {}
    for sp in doc.get("partition-specs", []):
        specs_by_id[sp.get("spec-id")] = sp.get("fields", [])
        for pf in sp.get("fields", []):
            if pf.get("field-id", 0) < 1000:
                err(f"partition field {pf.get('name')} id < 1000")
            if pf.get("field-id", 0) > doc.get("last-partition-id", 0):
                err(
                    f"partition field {pf.get('name')} id exceeds "
                    "last-partition-id"
                )
            if not TRANSFORM_RE.match(pf.get("transform", "")):
                err(f"unknown transform {pf.get('transform')!r}")
    if doc.get("default-spec-id") not in specs_by_id:
        err("default-spec-id resolves to no partition spec")

    for rname, rdoc in doc.get("refs", {}).items():
        if rdoc.get("type") not in ("branch", "tag"):
            err(f"ref {rname!r} has type {rdoc.get('type')!r}")
        if "snapshot-id" not in rdoc:
            err(f"ref {rname!r} missing snapshot-id")
    main = doc.get("refs", {}).get("main")
    if main and main.get("snapshot-id") != doc.get("current-snapshot-id"):
        err("refs.main does not point at current-snapshot-id")

    snap_ids = set()
    for s in doc.get("snapshots", []):
        missing = SNAPSHOT_KEYS - set(s) - (
            {"sequence-number"} if doc.get("format-version") == 1 else set()
        )
        # parent-snapshot-id is optional (first snapshot has none)
        if missing - {"schema-id"}:
            err(f"snapshot {s.get('snapshot-id')} missing {sorted(missing)}")
        if "operation" not in s.get("summary", {}):
            err(f"snapshot {s.get('snapshot-id')} summary lacks operation")
        snap_ids.add(s.get("snapshot-id"))
        check_loc(s.get("manifest-list", ""), "manifest-list")
    if (
        doc.get("current-snapshot-id") is not None
        and doc["current-snapshot-id"] not in snap_ids
    ):
        err("current-snapshot-id not among snapshots")

    for log_name, key, id_key in (
        ("snapshot-log", {"timestamp-ms", "snapshot-id"}, "snapshot-id"),
        ("metadata-log", {"timestamp-ms", "metadata-file"}, None),
    ):
        last_ts = None
        for e in doc.get(log_name, []):
            if set(e) != key:
                err(f"{log_name} entry keys {sorted(e)} != {sorted(key)}")
                continue
            if last_ts is not None and e["timestamp-ms"] < last_ts:
                err(f"{log_name} timestamps decrease")
            last_ts = e["timestamp-ms"]
            if id_key and e[id_key] not in snap_ids:
                # rolled-back heads may be re-logged; ids must still be
                # retained snapshots
                err(f"{log_name} references unknown snapshot {e[id_key]}")
        if log_name == "metadata-log":
            for e in doc.get(log_name, []):
                if set(e) == key:
                    check_loc(e["metadata-file"], "metadata-log file")

    # --- manifests: walk every retained snapshot's manifest list ---
    try:
        import pyarrow.parquet as pq
    except Exception:  # pragma: no cover
        pq = None

    checked_manifests: set[str] = set()
    derived: dict[str, dict | None] = {}
    for s in doc.get("snapshots", []):
        ml_path = s.get("manifest-list", "")
        if not os.path.exists(ml_path):
            err(f"manifest list missing on disk: {ml_path}")
            continue
        try:
            ml_schema, _, manifests = read_ocf(open(ml_path, "rb").read())
        except ValueError as e:
            err(f"manifest list {ml_path}: {e}")
            continue
        got = _field_ids(ml_schema)
        if got != MANIFEST_FILE_IDS:
            err(
                f"manifest_file field ids diverge from spec in {ml_path}: "
                f"{ {k: v for k, v in got.items() if MANIFEST_FILE_IDS.get(k) != v} }"
            )
        head = s["snapshot-id"] == doc.get("current-snapshot-id")
        for mf in manifests:
            if mf["content"] not in (0, 1):
                err(f"manifest content {mf['content']} not in {{0,1}}")
            if mf["sequence_number"] < mf["min_sequence_number"]:
                err("manifest sequence_number < min_sequence_number")
            check_loc(mf["manifest_path"], "manifest")
            if not os.path.exists(mf["manifest_path"]):
                err(f"manifest missing on disk: {mf['manifest_path']}")
                continue
            real = os.path.getsize(mf["manifest_path"])
            if real != mf["manifest_length"]:
                err(
                    f"manifest_length {mf['manifest_length']} != actual "
                    f"{real} for {mf['manifest_path']}"
                )
            if mf["partition_spec_id"] not in specs_by_id:
                err("manifest partition_spec_id resolves to no spec")
            if mf["manifest_path"] not in derived:
                derived[mf["manifest_path"]] = _derived_record(mf)
            for key, want in (derived[mf["manifest_path"]] or {}).items():
                if mf[key] != want:
                    err(
                        f"manifest-list {key} {mf[key]} != {want} from the "
                        f"entries of {mf['manifest_path']}"
                    )
            if not head or mf["manifest_path"] in checked_manifests:
                continue
            checked_manifests.add(mf["manifest_path"])
            _check_manifest(
                mf, doc, specs_by_id, schema_ids_by_schema, check_loc,
                err, pq,
            )
    return errs


def _derived_record(mf: dict) -> dict | None:
    """The manifest-list counts and sequence bounds that the entries of
    manifest ``mf`` give, or None when the manifest does not decode
    (``_check_manifest`` reports that for the head snapshot). Entries
    with a null sequence number inherit the record's."""
    try:
        _, _, entries = read_ocf(open(mf["manifest_path"], "rb").read())
    except ValueError:
        return None
    out = {}
    for word, status in (("added", 1), ("existing", 0), ("deleted", 2)):
        mine = [e for e in entries if e["status"] == status]
        out[f"{word}_data_files_count"] = len(mine)
        out[f"{word}_rows_count"] = sum(
            e["data_file"]["record_count"] for e in mine
        )
    seqs = [
        mf["sequence_number"] if e["sequence_number"] is None
        else e["sequence_number"]
        for e in entries
    ]
    if seqs:
        out["sequence_number"] = max(seqs)
        out["min_sequence_number"] = min(seqs)
    return out


def _check_manifest(
    mf, doc, specs_by_id, schema_ids_by_schema, check_loc, err, pq
) -> None:
    path = mf["manifest_path"]
    try:
        schema, meta, entries = read_ocf(open(path, "rb").read())
    except ValueError as e:
        err(f"manifest {path}: {e}")
        return
    got = _field_ids(schema)
    if got != MANIFEST_ENTRY_IDS:
        err(
            f"manifest_entry field ids diverge from spec in {path}: "
            f"{ {k: v for k, v in got.items() if MANIFEST_ENTRY_IDS.get(k) != v} }"
        )
        return
    df_schema = _unwrap(
        next(f["type"] for f in schema["fields"] if f["name"] == "data_file")
    )
    df_ids = _field_ids(df_schema)
    wrong = {
        k: v for k, v in df_ids.items()
        if k in DATA_FILE_IDS and DATA_FILE_IDS[k] != v
    }
    if wrong:
        err(f"data_file field ids diverge from spec in {path}: {wrong}")
    for bname, (kid, vid) in BOUND_KV_IDS.items():
        node = next(
            (f for f in df_schema["fields"] if f["name"] == bname), None
        )
        if node is None:
            continue
        items = _unwrap(node["type"])
        if isinstance(items, dict) and items.get("type") == "array":
            kv = _field_ids(items["items"])
            if kv.get("key") != kid or kv.get("value") != vid:
                err(
                    f"{bname} k/v field ids {kv} != spec ({kid},{vid}) "
                    f"in {path}"
                )
    # partition struct ids must match the metadata spec's field-ids
    pnode = next(
        (f for f in df_schema["fields"] if f["name"] == "partition"), None
    )
    spec_fields = specs_by_id.get(mf["partition_spec_id"], [])
    if pnode is not None:
        pids = _field_ids(_unwrap(pnode["type"]))
        want = {pf["name"]: pf["field-id"] for pf in spec_fields}
        if pids != want:
            err(f"partition struct ids {pids} != spec fields {want} in {path}")

    schema_fids = schema_ids_by_schema.get(doc.get("current-schema-id"), set())
    all_fids = set().union(*schema_ids_by_schema.values()) if schema_ids_by_schema else set()
    field_types = {}
    for sch in doc.get("schemas", []):
        for f in sch.get("fields", []):
            field_types.setdefault(f["id"], f["type"])

    for e in entries:
        if e["status"] not in (0, 1, 2):
            err(f"entry status {e['status']} not in {{0,1,2}}")
        rec = e["data_file"]
        if rec["content"] not in (0, 1, 2):
            err(f"data_file content {rec['content']} invalid")
        if rec["content"] == 2:
            if not rec.get("equality_ids"):
                err("content=2 (equality deletes) without equality_ids")
            elif not set(rec["equality_ids"]) <= all_fids:
                err(
                    f"equality_ids {rec['equality_ids']} not all schema "
                    "field ids"
                )
        if rec["content"] == 1 and rec.get("equality_ids"):
            err("content=1 (position deletes) must not carry equality_ids")
        if rec["file_format"] != "PARQUET":
            err(f"file_format {rec['file_format']!r} != PARQUET")
        if rec["record_count"] < 0 or rec["file_size_in_bytes"] < 0:
            err("negative record_count / file_size_in_bytes")
        for bname in ("lower_bounds", "upper_bounds"):
            for kv in rec.get(bname) or []:
                t = field_types.get(kv["key"])
                if t is None:
                    err(f"{bname} key {kv['key']} is no schema field id")
                elif isinstance(t, str) and t in FIXED_WIDTH:
                    if len(kv["value"]) != FIXED_WIDTH[t]:
                        err(
                            f"{bname} value width {len(kv['value'])} != "
                            f"{FIXED_WIDTH[t]} for {t} field {kv['key']}"
                        )
        # NB: no location check for data/delete files — Iceberg's
        # add_files / import semantics allow data anywhere (the repo's
        # export_iceberg is deliberately zero-copy, referencing source
        # files in place); the METADATA plane must stay under location
        if e["status"] == 2:
            continue  # DELETED entries may point at reaped files
        if not os.path.exists(rec["file_path"]):
            err(f"data file missing on disk: {rec['file_path']}")
            continue
        real = os.path.getsize(rec["file_path"])
        if real != rec["file_size_in_bytes"]:
            err(
                f"file_size_in_bytes {rec['file_size_in_bytes']} != "
                f"actual {real} for {rec['file_path']}"
            )
        if pq is not None:
            md = pq.ParquetFile(rec["file_path"])
            if md.metadata.num_rows != rec["record_count"]:
                err(
                    f"record_count {rec['record_count']} != parquet rows "
                    f"{md.metadata.num_rows} for {rec['file_path']}"
                )
            if rec["content"] == 1:
                fields = {
                    md.schema_arrow.field(i).name: (
                        md.schema_arrow.field(i).metadata or {}
                    )
                    for i in range(len(md.schema_arrow))
                }
                want = {
                    "file_path": str(POS_DELETE_FILE_PATH_ID).encode(),
                    "pos": str(POS_DELETE_POS_ID).encode(),
                }
                for col, fid in want.items():
                    got_id = fields.get(col, {}).get(b"PARQUET:field_id")
                    if got_id != fid:
                        err(
                            f"position-delete column {col} field id "
                            f"{got_id!r} != reserved {fid!r}"
                        )
                t = md.read()
                rows = list(
                    zip(t["file_path"].to_pylist(), t["pos"].to_pylist())
                )
                if rows != sorted(rows):
                    err(
                        "position-delete rows not sorted by "
                        f"(file_path, pos): {rec['file_path']}"
                    )


def main() -> int:
    targets = sys.argv[1:]
    if not targets:
        print("usage: spec_conformance.py <table_dir> [...]")
        return 2
    bad = 0
    for t in targets:
        errs = check_table(t)
        status = "FAIL" if errs else "OK"
        bad += bool(errs)
        print(f"{status}  {t}")
        for e in errs:
            print(f"  - {e}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
