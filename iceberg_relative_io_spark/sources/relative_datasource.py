"""Python DataSource (Spark DSv2-style) integration for the relative-path
table format.

The reference plugs its format into Spark through the Iceberg connector's
``SparkCatalog`` (reference README.md:8-11); the PySpark-native analogue
is Spark 4's Python DataSource API. Registering :class:`RelativeDataSource`
makes the format addressable with stock reader/writer/stream syntax:

    spark.dataSource.register(RelativeDataSource)
    spark.read.format("relative")
         .option("warehouse", wh).option("table", "ns.t").load()
    df.write.format("relative").options(...).mode("append").save()
    spark.readStream.format("relative").options(...).load()

and each half maps onto the format's native strengths:

- **batch read**: one ``InputPartition`` per data file, planned from the
  snapshot's manifest; ``pushFilters`` turns Catalyst filters into
  manifest min/max + partition-tuple pruning, so skipped files are never
  opened by any executor (the Iceberg scan-planning role). All filters
  are also returned to Spark, which re-applies them row-level — pruning
  is an optimization, never a semantics change.
- **batch write**: Spark's two-phase writer protocol IS the table
  format's commit protocol — executors each write a parquet file and
  report (path, size) commit messages; the driver turns the messages
  into a manifest and commits the snapshot pointer with the atomic CAS.
- **stream read**: snapshot tailing. The offset is a snapshot id; each
  micro-batch is ``incremental_files(start, end)`` — the CDC read the
  incremental manifests make O(changed files) — planned as one
  ``InputPartition`` per added file (DataSourceStreamReader), so
  executors read micro-batches through the same per-file path as the
  batch reader and a bulk tail scales with the cluster; no row ever
  rides the driver.

Partitioned tables: the batch AND stream readers re-attach hive
partition columns from the manifest's partition tuples; the batch and
stream writers lay out identity partition specs hive-style (one file
per task×partition) and record each file's tuple in the manifest;
transform layouts route through ``RelativeTable.append``.
"""

from __future__ import annotations

import json
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


def _load_table(options):
    from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable

    dotted = options["table"].split(".")
    cat = FsCatalog(options["warehouse"])
    return RelativeTable(cat.load_table(tuple(dotted[:-1]), dotted[-1]))


@dataclass
class FilePartition(InputPartition):
    path: str  # relative to the warehouse
    partition_json: str
    column_ids_json: str  # name->id mapping in force when the file was written
    deletes_json: str = "[]"  # MOR equality deletes [(path, [(file name, name)])]


@dataclass
class FileCommit(WriterCommitMessage):
    rel_path: str
    size: int


@dataclass
class MultiFileCommit(WriterCommitMessage):
    # (rel_path, size, partition_json) per file written by this task
    files: list


class RelativeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "relative"

    def schema(self) -> StructType:
        return _load_table(self.options).schema()

    def reader(self, schema: StructType) -> "RelativeBatchReader":
        return RelativeBatchReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> "RelativeWriter":
        return RelativeWriter(self.options, schema, overwrite)

    def streamReader(self, schema: StructType) -> "RelativeStreamReader":
        return RelativeStreamReader(self.options, schema)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "RelativeStreamWriter":
        return RelativeStreamWriter(self.options, schema, overwrite)


class RelativeBatchReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self.options = options
        self.schema = schema
        table = _load_table(options)  # one load serves io + spec + ids
        self.io = table.ops.io
        self.snapshot_id = (
            int(options["snapshot_id"]) if "snapshot_id" in options else None
        )
        self.partition_filter: dict = {}
        self.column_ranges: dict = {}
        from iceberg_relative_io_spark.catalog.spark_table import parse_partition_field

        # equality filters map to partition dirs only for identity entries;
        # transform layouts (day/bucket/...) prune through column_ranges
        self._part_cols = [
            f["name"]
            for f in (parse_partition_field(e) for e in table.partition_spec)
            if f["kind"] == "identity"
        ]
        self._cur_ids = table.ops.current().get("column-ids") or {}

    def pushFilters(self, filters):
        """Use supported comparisons for file skipping; hand every filter
        back so Spark still applies them to the rows we do return."""
        for f in filters:
            col = f.attribute[0] if len(getattr(f, "attribute", ())) == 1 else None
            value = getattr(f, "value", None)
            # footer stats are JSON scalars; only same-type comparables are safe
            if col is not None and isinstance(value, (int, float, str)):
                if isinstance(f, EqualTo):
                    if col in self._part_cols:
                        self.partition_filter[col] = value
                    self._narrow(col, value, value)
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    self._narrow(col, value, None)
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    self._narrow(col, None, value)
            yield f

    def _narrow(self, col: str, lo, hi) -> None:
        old_lo, old_hi = self.column_ranges.get(col, (None, None))
        self.column_ranges[col] = (
            lo if old_lo is None else (old_lo if lo is None else max(old_lo, lo)),
            hi if old_hi is None else (old_hi if hi is None else min(old_hi, hi)),
        )

    def partitions(self):
        table = _load_table(self.options)
        entries = table.scan_files(
            snapshot_id=self.snapshot_id,
            partition_filter=self.partition_filter or None,
            column_ranges=self.column_ranges or None,
        )
        # merge-on-read scoping: each file ships the equality-delete
        # files that apply to it (strictly newer sequence) — without
        # this the DSv2 read RESURRECTED rows deleted by
        # delete_where_mor, silently diverging from RelativeTable.read
        meta = table.ops.current()
        snap = table._resolve_snapshot(meta, self.snapshot_id, None)
        dels = table._delete_files(meta, snap)
        keys = {d["path"]: table._delete_keys(d, self._cur_ids) for d in dels}
        return [
            FilePartition(
                e["path"],
                json.dumps(e.get("partition", {})),
                json.dumps(e.get("column-ids", {})),
                json.dumps(
                    [
                        (d["path"], keys[d["path"]])
                        for d in dels
                        if d["_snap"] > e.get("_snap", 0)
                    ]
                ),
            )
            for e in entries
        ]

    def read(self, partition: FilePartition):
        # when partitions() plans no file (filters pruned them all),
        # Spark still runs one task and hands it None: it reads nothing
        if partition is None:
            return
        yield from _read_file_partition(
            self.io, self.schema, partition, self._cur_ids
        )


def _read_file_partition(io, schema: StructType, partition: FilePartition, cur_ids: dict):
    """Executor-side per-file read shared by the batch and stream
    readers: parquet scan, column-id reconciliation across schema
    evolution, hive partition-constant re-attachment from the manifest
    tuple, and per-file equality-delete anti-joins."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    tbl = pq.read_table(io._fs_path(partition.path), filesystem=io.fs)
    part_values = json.loads(partition.partition_json)
    # current logical name -> name physically written in this file, by
    # stable column id (RelativeTable._scan's column eras): an id the
    # file lacks reads NULL even where the file holds a dropped column
    # under that name. Only legacy files resolve by the current name.
    file_ids = json.loads(partition.column_ids_json)
    id_to_phys = {v: k for k, v in file_ids.items()}
    cols = []
    for field in target:
        if file_ids and cur_ids:
            phys = id_to_phys.get(cur_ids.get(field.name))
        else:
            phys = field.name
        if phys in tbl.column_names:
            cols.append(tbl.column(phys).cast(field.type))
        elif phys in part_values:
            # partition column physically split out of the file:
            # re-attach as a constant from the manifest's tuple.
            # Spark's hive layout writes NULL partitions as the
            # __HIVE_DEFAULT_PARTITION__ sentinel — decode it back
            # to NULL (casting it to int/date would crash; leaving
            # it on strings returned the literal sentinel)
            v = part_values[phys]
            if v == "__HIVE_DEFAULT_PARTITION__":
                cols.append(pa.nulls(len(tbl), field.type))
            else:
                raw = pa.array([v] * len(tbl), pa.string())
                cols.append(raw.cast(field.type))
        else:
            # column added (or dropped-and-readded) after this file
            cols.append(pa.nulls(len(tbl), field.type))
    out = pa.table(dict(zip(target.names, cols))).cast(target)
    for dpath, dkeys in json.loads(partition.deletes_json):
        # equality-delete anti-join (the spec's strictly-newer
        # scoping was applied at planning): drop rows whose key
        # tuple appears in the delete file. Key sets are the
        # deleted-row keys — small relative to the data; the join
        # runs per file inside the task. Each key is read under its
        # name in the delete file and matched on its current name.
        dk = pq.read_table(
            io._fs_path(dpath), filesystem=io.fs,
            columns=[k for k, _ in dkeys],
        )
        doomed = set(
            zip(*[dk.column(k).to_pylist() for k, _ in dkeys])
        ) if len(dk) else set()
        if not doomed:
            continue
        keep_mask = [
            t not in doomed
            for t in zip(*[out.column(c).to_pylist() for _, c in dkeys])
        ]
        out = out.filter(pa.array(keep_mask, pa.bool_()))
    yield from out.to_batches()


_NAN = float("nan")
_FLOAT_SEG = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}


def _write_task_batches(io, base_dir: str, part_cols: list, iterator) -> list:
    """Executor-side hive-layout writer shared by the batch and stream
    sinks: split each Arrow batch by identity-partition value, write one
    parquet file per (task, partition), return (rel, size, partition_json)
    tuples for the driver-side manifest. Directory segments are escaped
    as Spark escapes them; the manifest keeps the raw values."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from iceberg_relative_io_spark.catalog.spark_table import hive_segment

    def _open(rel: str, schema):
        io.fs.create_dir(io._fs_path(rel.rsplit("/", 1)[0]), recursive=True)
        return pq.ParquetWriter(io._fs_path(rel), schema, filesystem=io.fs)

    writers: dict = {}  # key -> [writer, rel, partition_json]
    for batch in iterator:
        if not part_cols:
            key = ()
            if key not in writers:
                rel = f"{base_dir}/part-{uuid.uuid4().hex}.parquet"
                writers[key] = [_open(rel, batch.schema), rel, "{}"]
            writers[key][0].write_batch(batch)
            continue
        tbl = pa.Table.from_batches([batch])
        combos = {
            # raw values: None must stay distinct, not "None"; every NaN
            # is the one _NAN object, so NaN rows make one combo
            tuple(_NAN if v != v else v for v in t)
            for t in zip(*[tbl.column(c).to_pylist() for c in part_cols])
        }
        _NULL_SEG = "__HIVE_DEFAULT_PARTITION__"  # Spark's hive sentinel
        for combo in combos:
            mask = None
            for c, v in zip(part_cols, combo):
                if v is None:
                    # equal(NULL, x) is NULL and Table.filter drops
                    # NULL-mask rows — NULL partitions were silently
                    # LOST; null-test explicitly instead
                    eq = pc.is_null(tbl[c])
                elif v is _NAN:
                    eq = pc.fill_null(pc.is_nan(tbl[c]), False)
                else:
                    # typed equality: a string cast of the column and
                    # str(v) disagree for bool, timestamp and whole
                    # doubles ('true' vs 'True'), which lost those rows
                    eq = pc.fill_null(
                        pc.equal(tbl[c], pa.scalar(v, type=tbl[c].type)),
                        False,
                    )
                mask = eq if mask is None else pc.and_(mask, eq)
            sub = tbl.filter(mask).drop(part_cols)
            if combo not in writers:
                # Spark parses a double partition value with
                # Double.parseDouble, which knows no 'nan' / 'inf'
                seg_vals = [
                    _NULL_SEG if v is None
                    else _FLOAT_SEG.get(str(v), str(v)) if isinstance(v, float)
                    else str(v)
                    for v in combo
                ]
                segs = "/".join(
                    hive_segment(c, v) for c, v in zip(part_cols, seg_vals)
                )
                rel = f"{base_dir}/{segs}/part-{uuid.uuid4().hex}.parquet"
                writers[combo] = [
                    _open(rel, sub.schema),
                    rel,
                    json.dumps(
                        dict(zip(part_cols, seg_vals)), sort_keys=True
                    ),
                ]
            writers[combo][0].write_table(sub)
    files = []
    for w, rel, pjson in writers.values():
        w.close()
        files.append((rel, io.fs.get_file_info(io._fs_path(rel)).size, pjson))
    return files


def _committed_entries(table, messages, column_ids: dict | None) -> list[dict]:
    """Driver side: the manifest entries for the files the write tasks
    report. Each records the ``column-ids`` map its files were written
    under, so a later rename still reads them by id."""
    entries = []
    for m in messages:
        if m is None:
            continue
        for rel, size, pjson in m.files:
            entry = {"path": rel, "size-bytes": size}
            part = json.loads(pjson)
            if part:
                entry["partition"] = part
            if column_ids:
                entry["column-ids"] = dict(column_ids)
            entry.update(table._file_stats(rel))
            entries.append(entry)
    return entries


class RelativeWriter(DataSourceArrowWriter):
    def __init__(self, options, schema: StructType, overwrite: bool):
        from iceberg_relative_io_spark.catalog.spark_table import parse_partition_field

        table = _load_table(options)
        fields = [parse_partition_field(e) for e in table.partition_spec]
        if any(f["kind"] != "identity" for f in fields):
            raise ValueError(
                "the 'relative' writer supports identity partition specs; "
                "use RelativeTable.append for transform layouts"
            )
        self.part_cols = [f["name"] for f in fields]
        self.options = options
        self.io = table.ops.io
        # the names the tasks write under are the schema's at planning
        self.column_ids = table.ops.current().get("column-ids")
        self.snap_dir = table.ops.data_location(f"snap-{uuid.uuid4()}")
        self.overwrite = overwrite

    def write(self, iterator):
        """Executor side: stream this task's record batches into parquet
        under the (driver-chosen) snapshot dir — one file per hive
        partition this task sees (rows were hash-distributed by the
        caller or arrive as-is; either way each (task, partition) pair
        emits one file)."""
        return MultiFileCommit(
            _write_task_batches(self.io, self.snap_dir, self.part_cols, iterator)
        )

    def commit(self, messages):
        """Driver side: commit messages -> manifest entries -> snapshot."""
        table = _load_table(self.options)
        entries = _committed_entries(table, messages, self.column_ids)
        table._commit_snapshot("overwrite" if self.overwrite else "append", entries)

    def abort(self, messages):
        for m in messages:
            if m is None:
                continue
            for rel, _, _ in m.files:
                try:
                    self.io.delete_file(rel)
                except Exception:
                    pass


class RelativeStreamWriter(DataSourceStreamArrowWriter):
    """writeStream sink: every micro-batch commits one append snapshot
    through the same two-phase protocol as the batch writer. Replayed
    batches (restart between executor write and sink commit) are deduped
    by recording the batch id in the snapshot summary — the standard
    idempotent-sink contract Structured Streaming expects."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        table = _load_table(options)
        from iceberg_relative_io_spark.catalog.spark_table import parse_partition_field

        fields = [parse_partition_field(e) for e in table.partition_spec]
        if any(f["kind"] != "identity" for f in fields):
            raise ValueError(
                "the 'relative' stream writer supports identity partition specs"
            )
        self.part_cols = [f["name"] for f in fields]
        self.options = options
        self.io = table.ops.io
        self.column_ids = table.ops.current().get("column-ids")
        self.data_root = table.ops.data_location("stream")

    def write(self, iterator):
        return MultiFileCommit(
            _write_task_batches(self.io, self.data_root, self.part_cols, iterator)
        )

    def _batch_key(self, batchId: int) -> str:
        # batch ids are per-CHECKPOINT (every query starts at 0): keyed
        # on batchId alone, a second query writing to the same table had
        # its first batches silently swallowed as "replays". Scope the
        # dedup to the checkpoint identity when one is provided.
        ckpt = self.options.get("checkpointLocation")
        if ckpt:
            import hashlib

            return hashlib.sha1(ckpt.encode()).hexdigest()[:12] + ":" + str(
                batchId
            )
        return str(batchId)

    def commit(self, messages, batchId: int) -> None:
        table = _load_table(self.options)
        # replayed batch: snapshot already committed. seen_stream_epoch
        # consults the expiry-proof stream.epoch.<ckpt> property first,
        # then the snapshot summaries (round-10 advice: the marker
        # snapshot alone could be expired between crash and replay)
        if table.seen_stream_epoch(self._batch_key(batchId)):
            return
        table._commit_snapshot(
            "append",
            _committed_entries(table, messages, self.column_ids),
            extra_summary={"stream-batch-id": self._batch_key(batchId)},
        )

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is None:
                continue
            for rel, _, _ in m.files:
                try:
                    self.io.delete_file(rel)
                except Exception:
                    pass


class RelativeStreamReader(DataSourceStreamReader):
    """Partition-planning stream reader: the offset is a snapshot id,
    each micro-batch plans ONE :class:`FilePartition` per data file the
    window's append snapshots added (``incremental_files`` — the CDC
    read incremental manifests make O(changed files)), and executors
    read the files through the same per-file path as the batch reader
    (:func:`_read_file_partition`) — no row ever rides the driver, so a
    bulk tail scales with the cluster exactly like a batch scan.
    Identity-partitioned tables stream for free: the manifest tuple
    rides each partition and the shared read path re-attaches the hive
    constants (transform layouts keep their source columns in the data
    files, so nothing needs re-attaching).

    Admission control (``max-files-per-trigger`` option): at scale a
    tail that falls behind must not plan one giant catch-up batch —
    every backlogged file becomes a task in a single micro-batch and
    end-to-end latency (plus sink-commit size) grows unbounded. With
    the cap set, ``latestOffset`` advances the end snapshot along the
    head's parent chain only while the cumulative ``added-data-files``
    stays within budget (always at least one snapshot, so progress is
    guaranteed even by an oversized commit — the same floor Spark's
    file source applies). Snapshot granularity is deliberate: offsets
    stay snapshot ids and a batch never splits a commit, so each
    micro-batch is still an exact CDC window.

    The position base is self-tracked, because the Python DataSource
    API has no ``ReadLimit`` hook handing ``latestOffset`` the start
    offset (Scala sources get ``SupportsAdmissionControl``), and the
    engine's FIRST ``latestOffset`` call precedes both
    ``initialOffset`` and any ``partitions`` call. The first planned
    window after reader construction — a fresh stream's initial
    backfill, or the first batch after a restart — is therefore
    UNCAPPED. Every window after the engine has taught the base
    (``initialOffset`` / ``partitions`` / ``commit`` — all monotone)
    honors the cap: the steady-state tail that falls behind catches up
    in bounded micro-batches.

    ADR (round 9): capping the FIRST window cannot be made restart-safe
    under this API, so it stays uncapped. The only base a fresh reader
    could cap against is genesis, and a reader cannot distinguish fresh
    start from clean restart at first-``latestOffset`` time. The
    failure chain if it capped against genesis: (1) clean restart with
    checkpointed position C — first ``latestOffset`` advertises a
    genesis-capped G < C; the engine sees G != C, plans batch (C, G),
    and a defensive empty ``partitions`` would still let the offset log
    record G as the new position; (2) the next capped window (G, H]
    with H < C then RE-PLANS files already consumed before the restart
    — duplicate emission, exactly-once broken. Uncapped-to-head can
    never advertise behind any checkpoint, so it is the only safe first
    answer. Consequence accepted: a cold tail of a huge backlog plans
    one giant first batch — bounded per-task by one InputPartition per
    file, but committed as one epoch. Pinned by
    tests/test_datasource.py::test_stream_cap_engine_end_to_end and
    ::test_stream_restart_from_checkpoint."""

    def __init__(self, options, schema: StructType):
        self.options = options
        self.schema = schema
        table = _load_table(options)  # one load serves io for executors
        self.io = table.ops.io
        cap = options.get("max-files-per-trigger")
        self.max_files = int(cap) if cap is not None else None
        if self.max_files is not None and self.max_files < 1:
            raise ValueError("max-files-per-trigger must be >= 1")
        self._pos: int | None = None  # last advertised/planned end sid

    def initialOffset(self) -> dict:
        self._pos = max(self._pos or 0, 0)  # fresh stream: base known
        return {"snapshot_id": 0}

    def latestOffset(self) -> dict:
        table = _load_table(self.options)
        meta = table.ops.current()
        head = meta.get("current-snapshot-id") or 0
        end = head
        if self.max_files is not None and self._pos is not None and head:
            by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
            chain: list[int] = []  # head -> exclusive base, newest first
            sid: int | None = head
            while sid and sid != self._pos and sid in by_id:
                chain.append(sid)
                sid = by_id[sid].get("parent-snapshot-id")
            if sid == self._pos or self._pos == 0:
                budget = self.max_files
                end = self._pos
                for cand in reversed(chain):  # oldest first
                    n = int(
                        by_id[cand].get("summary", {}).get(
                            "added-data-files", 1
                        )
                    )
                    if end != self._pos and n > budget:
                        break  # budget spent; cand waits for next trigger
                    end = cand
                    budget -= n
            # base not on head's chain (rollback rewrote history):
            # advertise the head and let partitions() raise loudly
        self._pos = max(self._pos or 0, end)
        return {"snapshot_id": end}

    def partitions(self, start: dict, end: dict):
        # planning teaches the admission-control base (offsets replay in
        # order, snapshot ids are monotone)
        self._pos = max(self._pos or 0, end["snapshot_id"])
        if start["snapshot_id"] == end["snapshot_id"]:
            return []
        table = _load_table(self.options)
        # the CURRENT column-id map rides each partition so executors
        # reconcile renamed columns without re-reading table metadata;
        # stream appends are append-only chains, so no delete files apply
        cur_ids = table.ops.current().get("column-ids") or {}
        entries = table.incremental_files(
            start["snapshot_id"] or None, end["snapshot_id"]
        )
        return [
            StreamFilePartition(
                e["path"],
                json.dumps(e.get("partition", {})),
                json.dumps(e.get("column-ids", {})),
                "[]",
                json.dumps(cur_ids),
            )
            for e in entries
        ]

    def read(self, partition: "StreamFilePartition"):
        yield from _read_file_partition(
            self.io, self.schema, partition, json.loads(partition.cur_ids_json)
        )

    def commit(self, end: dict) -> None:
        # monotone, like initialOffset/latestOffset/partitions: a commit
        # for an older batch delivered after a newer offset taught a
        # higher base must not regress the admission-control watermark
        self._pos = max(self._pos or 0, end["snapshot_id"] or 0)

    def stop(self) -> None:
        pass


@dataclass
class StreamFilePartition(FilePartition):
    # current name->id map at planning time: executors resolve physical
    # column names across schema evolution without a metadata round trip
    cur_ids_json: str = "{}"
