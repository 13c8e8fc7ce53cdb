"""RelativeTable — the Spark-facing table over the relative-path format.

Gives the query surface the reference demonstrates through Spark+Iceberg
(reference README.md:14-18): create / append (INSERT INTO) / select, plus
snapshot time travel (VERSION AS OF / TIMESTAMP AS OF semantics,
README.md:101-108) and metadata introspection (the `.snapshots` table of
B29) — all against metadata whose every stored path is relative, so the
warehouse can be moved between reads (README.md:112-121).

Write path: executors write parquet into a per-snapshot directory under
``<table>/data/`` (each commit owns its directory, so concurrent writers
never collide on data files); the driver then records the file list in a
manifest and commits the new snapshot pointer with the atomic-rename CAS
(table_ops.py). Losers of the pointer race retry against refreshed
metadata — optimistic concurrency exactly like the reference
(HadoopRelativeTableOperations.java:143-180).
"""

from __future__ import annotations

import json
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from iceberg_relative_io_spark.catalog.paths import orphan_sidecars
from iceberg_relative_io_spark.catalog.scan import net_diff, plan_scan
from iceberg_relative_io_spark.catalog.table_ops import CommitFailedError, TableOperations

_COMMIT_RETRIES = 4

# table-property prefix recording, per stream checkpoint, the max batch
# id a sink committed: "stream.epoch.<sha1(ckpt)[:12]>" -> str(batchId).
# Properties ride table metadata, not snapshots, so the idempotence
# probe survives expire_snapshots (one bounded property per checkpoint,
# not per epoch — epochs commit in order, so the max is complete)
_STREAM_EPOCH_PROP = "stream.epoch."

# Spark's hive-layout directory value for a NULL partition
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# the characters Spark's ExternalCatalogUtils.escapePathName encodes as
# %XX in a partition directory name (its non-Windows set)
_HIVE_ESCAPED = frozenset("\"#%'*/:=?\\\x7f{[]^" + "".join(map(chr, range(1, 32))))


def hive_segment(key: str, value: str) -> str:
    """The ``key=value`` directory segment Spark writes for one identity
    partition value; :meth:`RelativeTable._partition_values` inverts it."""

    def esc(s: str) -> str:
        return "".join(f"%{ord(c):02X}" if c in _HIVE_ESCAPED else c for c in s)

    return f"{esc(key)}={esc(value)}"


def _epoch_key_parts(epoch_key) -> tuple[str, int] | None:
    """Split a checkpoint-scoped epoch key ``<ckpt-hash>:<batchId>``;
    None for bare/legacy keys (no checkpoint identity to scope a bounded
    property under — those stay on the snapshot-summary scan)."""
    if not isinstance(epoch_key, str) or ":" not in epoch_key:
        return None
    ckpt, _, batch = epoch_key.rpartition(":")
    if not ckpt or not batch.isdigit():
        return None
    return ckpt, int(batch)


def _json_safe(v, floor: bool | None = None):
    """Parquet footer stats -> JSON-storable scalar (datetime ->
    isoformat). DECIMAL bounds convert to float widened OUTWARD by one
    ulp in the bound's direction (``floor=True`` for a min, ``False``
    for a max): json can't carry Decimal, and an unwidened lossy float
    could round INWARD past the true bound — a silent wrong-skip on a
    later pruned read. Widening only ever admits extra files."""
    import datetime
    import decimal
    import math

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        f = float(v)
        if floor is None or math.isinf(f):
            return f
        return math.nextafter(f, -math.inf if floor else math.inf)
    return v


# -- hidden partitioning (Iceberg partition transforms) -------------------------
# A spec entry is either an identity column name or a transform:
#   "day(ts)" / "month(ts)" / "bucket(16, id)" / "truncate(4, code)"
# Transform layouts partition the DIRECTORY tree on a derived value while the
# source column stays physical in the data files — queries filter the source
# column and pruning maps the predicate onto the layout (Iceberg's hidden
# partitioning, so users never filter a derived column by hand).

_TRANSFORM_RE = re.compile(r"(\w+)\(\s*(?:(\d+)\s*,\s*)?(\w+)\s*\)")


def parse_partition_field(entry: str) -> dict:
    m = _TRANSFORM_RE.fullmatch(entry.strip())
    if not m:
        return {"kind": "identity", "source": entry.strip(), "arg": None, "name": entry.strip()}
    kind, arg, col = m.group(1).lower(), m.group(2), m.group(3)
    if kind not in ("day", "month", "bucket", "truncate"):
        raise ValueError(f"unknown partition transform {kind!r}")
    if kind in ("bucket", "truncate") and not arg:
        raise ValueError(f"{kind} transform needs a width: {entry!r}")
    return {
        "kind": kind,
        "source": col,
        "arg": int(arg) if arg else None,
        "name": f"{col}_{kind}",
    }


def _transform_column(fdef: dict, bucket_hash: str = "xxhash64", dtype=None):
    """The derived layout column as a Catalyst expression (codegen).
    ``bucket_hash`` is the table's recorded bucket transform version:
    'murmur3' (new tables — the Iceberg spec hash, exportable and
    driver-side prunable) or the legacy 'xxhash64' (tables created
    before the switch keep their layout)."""
    from pyspark.sql import functions as F

    src = F.col(fdef["source"])
    if fdef["kind"] == "day":
        return F.date_format(src, "yyyy-MM-dd")
    if fdef["kind"] == "month":
        return F.date_format(src, "yyyy-MM")
    if fdef["kind"] == "bucket":
        if bucket_hash == "murmur3":
            from iceberg_relative_io_spark.catalog.bucket_hash import (
                bucket_column,
            )

            return bucket_column(fdef["source"], fdef["arg"], dtype)
        return F.pmod(F.xxhash64(src), F.lit(fdef["arg"])).cast("int")
    if fdef["kind"] == "truncate":
        return F.substring(src, 1, fdef["arg"])
    return src


def _distribute_by_partition(df: DataFrame, layout_cols: list[str]) -> DataFrame:
    """Cluster rows by their layout columns before a ``partitionBy``
    write, so each partition value lands in one task and the write
    emits one file per value; without it every task emits a file per
    value it holds, tasks × values small files (Iceberg's 'hash'
    ``write.distribution-mode`` solves the same problem). Spark's
    REBALANCE hint rather than ``repartition``: at small sizes the two
    coincide (AQE coalesces to one reducer), but only rebalance lets
    AQE split a value larger than the advisory partition size across
    several tasks, so a skewed value is not written by a single task."""
    return df.hint("rebalance", *layout_cols)


def _transform_value(fdef: dict, v):
    """Driver-side mirror of order-preserving transforms, for pruning.
    Returns None when the transform of this value can't be derived here
    (bucket: engine-side hash) — callers must then keep the file."""
    if v is None:
        return None
    s = v.isoformat() if hasattr(v, "isoformat") else str(v)
    if fdef["kind"] == "day":
        return s[:10]
    if fdef["kind"] == "month":
        return s[:7]
    if fdef["kind"] == "truncate":
        return s[: fdef["arg"]]
    return None


class RelativeTable:
    def __init__(self, ops: TableOperations):
        self.ops = ops

    # -- write path ------------------------------------------------------------
    @property
    def partition_spec(self) -> list[str]:
        return self.ops.current().get("partition-spec", [])

    @staticmethod
    def _partition_values(rel_path: str) -> dict[str, str]:
        """Parse hive-style key=value segments out of a data file path.

        Values are hive-UNESCAPED (Spark's escapePathName percent-encodes
        ':', '=', ' ', '%', ... into the dir segment): the manifest must
        record the TRUE partition value — partition_filter pruning
        compares predicate values, in_layout range-prunes by string
        order (':' is 0x3A but its escape '%3A' starts at 0x25, so an
        escaped timestamp at a range bound was wrongly skipped), and
        both readers restore the stored string as the column value —
        all of which silently diverge on the escaped form. Inverts
        :func:`hive_segment`."""
        from urllib.parse import unquote

        out = {}
        for seg in rel_path.split("/")[:-1]:
            if "=" in seg:
                k, _, v = seg.partition("=")
                out[unquote(k)] = unquote(v)
        return out

    def _write_snapshot_files(
        self, df: DataFrame, pre_distributed: bool = False
    ) -> tuple[str, list[dict]]:
        """Write df as parquet into a fresh per-snapshot data dir; return
        (relative dir, file entries with relative paths). Honors the
        table's partition spec: files land in hive-style key=value dirs
        and the manifest records each file's partition tuple, enabling
        manifest-level partition pruning on read (the same layering as
        Iceberg's partition-spec metadata, reference README.md:53-57)."""
        snap_dir = self.ops.data_location(f"snap-{uuid.uuid4()}")
        abs_dir = self.ops.io.spark_path(snap_dir)
        spec = self.partition_spec
        fields = [parse_partition_field(e) for e in spec]
        layout_cols = [f["name"] for f in fields]
        meta_now = self.ops.current()
        bucket_hash = meta_now.get("bucket-hash", "xxhash64")
        sort_order = meta_now.get("sort-order") or []
        if fields:
            # hidden partitioning: derive each transform's layout column
            # (identity entries pass through untouched)
            dtypes = {f.name: f.dataType for f in df.schema.fields}
            for fdef in fields:
                if fdef["kind"] != "identity":
                    df = df.withColumn(
                        fdef["name"],
                        _transform_column(
                            fdef, bucket_hash, dtypes.get(fdef["source"])
                        ),
                    )
        if pre_distributed:
            pass  # caller already clustered the rows (e.g. z-order rewrite)
        elif sort_order:
            # write clustering: range-repartition so files carry disjoint
            # sort-key ranges, then sort within — footer min/max become
            # tight and range pruning can skip most files of a scan
            df = df.repartitionByRange(*sort_order).sortWithinPartitions(*sort_order)
        elif layout_cols:
            df = _distribute_by_partition(df, layout_cols)
        writer = df.write.mode("overwrite")
        # write.target-file-size-bytes (Iceberg property parity): cap
        # each output file near the target by translating bytes ->
        # rows/file with the table's OWN measured bytes/row (manifest
        # size-bytes / row-count of recent files — the same feedback
        # Iceberg's rolling writers use). The cap tames the huge-file
        # direction exactly; the small-file direction is handled by the
        # distribution shuffles above (AQE coalesces their partitions to
        # the advisory size). A table's first write has no history and
        # proceeds uncapped — the second write onward is sized from real
        # files, never from a guessed compression ratio.
        target_raw = meta_now.get("properties", {}).get(
            "write.target-file-size-bytes"
        )
        if target_raw:
            try:
                target = int(target_raw)
            except (TypeError, ValueError):
                target = 0  # a malformed property must not brick appends
            bpr = self._bytes_per_row_estimate(meta_now) if target > 0 else None
            if bpr:
                writer = writer.option(
                    "maxRecordsPerFile", max(1, int(target / bpr))
                )
        if layout_cols:
            writer = writer.partitionBy(*layout_cols)
        writer.parquet(abs_dir)
        entries = []
        current = self.ops.current()
        column_ids = current.get("column-ids")
        # resolved once per snapshot, not per file: _bloom_columns re-reads
        # table metadata, and a per-file metadata read would turn every
        # commit (including each streaming micro-batch) into O(files)
        # extra metadata IO
        bloom_cols = self._bloom_columns()
        for fi in self.ops.io.list_prefix(snap_dir):
            name = fi.location.rsplit("/", 1)[-1]
            if name.startswith("_") or name.startswith("."):
                continue
            entry = {"path": fi.location, "size-bytes": fi.size}
            if spec:
                entry["partition"] = self._partition_values(fi.location)
            if column_ids:
                # name-as-written -> stable id: lets a future read map this
                # file's physical columns onto a renamed/evolved schema
                entry["column-ids"] = dict(column_ids)
            entry.update(self._file_stats(fi.location))
            if bloom_cols:
                entry.update(self._file_blooms(fi.location, bloom_cols))
            entries.append(entry)
        return snap_dir, entries

    def _bytes_per_row_estimate(self, meta: dict | None = None) -> float | None:
        """On-disk bytes/row measured from the table's own most recent
        data files (manifest ``size-bytes`` / ``row-count``) — the
        feedback signal for ``write.target-file-size-bytes``. None on an
        empty table or when entries carry no row counts, in which case
        the write proceeds uncapped rather than trusting a guessed
        parquet compression ratio.

        Deliberately NOT a full ``_data_files`` chain walk (O(history)
        manifest reads per commit would put the property itself on the
        commit-latency-vs-history curve): only the newest few snapshots'
        OWN manifests are opened, newest first, stopping at the first
        that yields sized files — O(1) metadata IO per commit."""
        meta = meta or self.ops.current()
        if meta.get("current-snapshot-id") is None:
            return None
        for snap in reversed(meta.get("snapshots", [])[-8:]):
            if snap.get("expired"):
                continue
            try:
                man = self._manifest_for(meta, snap["snapshot-id"])
            except Exception:
                continue
            sized = [
                f for f in man.get("added-files", []) if f.get("row-count")
            ][:16]
            rows = sum(f["row-count"] for f in sized)
            size = sum(f.get("size-bytes", 0) for f in sized)
            if rows and size:
                return size / rows
        return None

    # -- bloom filters (manifest-level, Iceberg write.*.bloom-filter parity) ------
    _BLOOM_M = 8192  # bits per (file, column)
    _BLOOM_K = 6

    @staticmethod
    def _bloom_bits(value) -> list[int]:
        """The k bit positions a value sets/tests. Deterministic across
        processes (blake2b — never Python's salted hash()); numpy scalars
        normalize through .item(), and NUMERICS CANONICALIZE before
        hashing (bool -> int, integral float -> int) so a predicate typed
        differently from the stored value (42.0 vs 42, True vs 1) still
        hashes the same bytes — a repr() mismatch here would be a bloom
        false NEGATIVE, i.e. silently wrong query results, not just a
        missed skip."""
        import hashlib

        v = value.item() if hasattr(value, "item") else value
        if isinstance(v, bool):
            v = int(v)
        elif isinstance(v, float) and v.is_integer():
            v = int(v)
        d = hashlib.blake2b(repr(v).encode(), digest_size=16).digest()
        h1 = int.from_bytes(d[:8], "little")
        h2 = int.from_bytes(d[8:], "little") | 1
        m = RelativeTable._BLOOM_M
        return [(h1 + i * h2) % m for i in range(RelativeTable._BLOOM_K)]

    def _bloom_columns(self) -> list[str]:
        prop = self.ops.current().get("properties", {}).get(
            "write.bloom-filter-columns", ""
        )
        return [c.strip() for c in prop.split(",") if c.strip()]

    def _file_blooms(self, rel_path: str, cols: list[str]) -> dict:
        """Per-column bloom bitsets for one data file (hex-encoded in the
        manifest entry). Equality predicates on high-cardinality columns
        can then skip files even when footer min/max spans everything —
        e.g. randomly-distributed keys. A false positive only keeps a
        file (never wrong); a missing bloom keeps the file too."""
        try:
            tbl = self.ops.io.parquet_table(rel_path, columns=cols)
            blooms = {}
            for c in cols:
                if c not in tbl.column_names:
                    continue
                bits = bytearray(self._BLOOM_M // 8)
                for v in tbl.column(c).to_pylist():
                    if v is None or not isinstance(v, (int, float, str)):
                        continue
                    for pos in self._bloom_bits(v):
                        bits[pos >> 3] |= 1 << (pos & 7)
                blooms[c] = bytes(bits).hex()
            return {"bloom": blooms} if blooms else {}
        except Exception:
            return {}

    def _file_stats(self, rel_path: str) -> dict:
        """Per-file row count + per-column min/max from the parquet footer
        — the stats that let a filtered scan skip whole files before Spark
        ever plans them (Iceberg's manifest-stats role). Footer-only read;
        in a cluster deployment executors would report these at write
        time instead."""
        try:
            md = self.ops.io.parquet_metadata(rel_path)
            mins: dict = {}
            maxs: dict = {}
            for rg in range(md.num_row_groups):
                group = md.row_group(rg)
                for ci in range(group.num_columns):
                    col = group.column(ci)
                    stats = col.statistics
                    if stats is None or not stats.has_min_max:
                        continue
                    name = col.path_in_schema
                    lo, hi = stats.min, stats.max
                    if isinstance(lo, bytes):
                        continue  # undecoded types: skip, never wrong-skip
                    lo, hi = _json_safe(lo, floor=True), _json_safe(hi, floor=False)
                    if name not in mins or lo < mins[name]:
                        mins[name] = lo
                    if name not in maxs or hi > maxs[name]:
                        maxs[name] = hi
            return {"row-count": md.num_rows, "min": mins, "max": maxs}
        except Exception:
            return {}

    def _commit_snapshot(
        self,
        operation: str,
        added: list[dict],
        branch: str = "main",
        extra_summary: dict | None = None,
        delete_files: list[dict] | None = None,
        replaced_partitions: list[str] | None = None,
    ) -> dict:
        """Optimistic-concurrency snapshot commit with bounded retry.

        Manifests are *incremental*: each records only the files its
        snapshot added. The live file set is reconstructed by walking the
        parent chain (append accumulates; overwrite/replace resets), so
        commit cost is O(added files), not O(total files) — at a million
        files per table, rewriting a cumulative list per commit would be
        the scaling bug.

        ``branch`` selects which ref the new snapshot extends (reference
        metadata models refs/branches the same way, README.md:68-72).
        Snapshot ids are globally monotone across branches; only a commit
        to 'main' moves current-snapshot-id."""
        last_err: Exception | None = None
        for _ in range(_COMMIT_RETRIES):
            meta = json.loads(json.dumps(self.ops.current()))  # deep copy
            base_version = self.ops.current_version()
            refs = meta.setdefault("refs", {})
            if branch == "main":
                parent = refs.get("main", meta.get("current-snapshot-id"))
            else:
                if branch not in refs:
                    raise ValueError(f"no such branch {branch!r}; create_branch first")
                parent = refs[branch]
            snap_id = max(
                [s["snapshot-id"] for s in meta["snapshots"]] or [0]
            ) + 1
            total = len(added)
            if operation in self._CHAIN_OPS and parent is not None:
                parent_files = self._data_files(meta, parent)
                if operation == "dynamic-overwrite":
                    rep = set(replaced_partitions or [])
                    parent_files = [
                        f
                        for f in parent_files
                        if json.dumps(f.get("partition", {}), sort_keys=True)
                        not in rep
                    ]
                total += len(parent_files)

            manifest = {"snapshot-id": snap_id, "added-files": added}
            if delete_files:
                manifest["delete-files"] = delete_files
            if replaced_partitions is not None:
                manifest["replaced-partitions"] = replaced_partitions
            manifest_loc = f"{self.ops.metadata_dir}/snap-{snap_id}-{uuid.uuid4()}.manifest.json"
            self.ops.io.write_bytes(manifest_loc, json.dumps(manifest).encode())

            now_ms = int(time.time() * 1000)
            snapshot = {
                "snapshot-id": snap_id,
                "parent-snapshot-id": parent,
                "timestamp-ms": now_ms,
                "operation": operation,
                "branch": branch,
                # relative path, like the reference's manifest-list (README.md:96)
                "manifest": manifest_loc,
                "summary": {
                    "added-data-files": str(len(added)),
                    "added-files-size": str(sum(f["size-bytes"] for f in added)),
                    "total-data-files": str(total),
                    **(extra_summary or {}),
                },
            }
            # idempotent stream sinks: mirror the epoch key into the
            # expiry-proof per-checkpoint property (same atomic commit
            # as the snapshot — no window where one exists without the
            # other)
            ek_parts = _epoch_key_parts(
                (extra_summary or {}).get("stream-batch-id")
            )
            if ek_parts is not None:
                props = meta.setdefault("properties", {})
                prop = _STREAM_EPOCH_PROP + ek_parts[0]
                prev = props.get(prop)
                if prev is None or int(prev) < ek_parts[1]:
                    props[prop] = str(ek_parts[1])
            meta["snapshots"].append(snapshot)
            refs[branch] = snap_id
            if branch == "main":
                meta["current-snapshot-id"] = snap_id
                meta["snapshot-log"].append(
                    {"timestamp-ms": now_ms, "snapshot-id": snap_id}
                )
            meta["last-updated-ms"] = now_ms
            try:
                self.ops.commit(base_version, meta)
                return snapshot
            except CommitFailedError as err:
                last_err = err
                self.ops._should_refresh = True
                try:
                    self.ops.io.delete_file(manifest_loc)
                except Exception:
                    pass
        raise CommitFailedError(f"commit failed after {_COMMIT_RETRIES} retries: {last_err}")

    def append(
        self,
        df: DataFrame,
        branch: str = "main",
        extra_summary: dict | None = None,
    ) -> dict:
        """B2: INSERT INTO — durable append producing a new snapshot.
        ``extra_summary`` lands in the snapshot summary — the hook
        idempotent stream sinks use to record their epoch key
        (stream-batch-id, same contract as RelativeStreamWriter)."""
        _, entries = self._write_snapshot_files(df)
        return self._commit_snapshot(
            "append", entries, branch, extra_summary=extra_summary
        )

    def seen_stream_epoch(self, epoch_key: str) -> bool:
        """True if this table already committed stream epoch
        ``epoch_key`` — the replayed-epoch probe for foreachBatch sinks
        (Structured Streaming re-runs an epoch whose sink action ran
        but whose commit-log write was lost to a crash; an idempotent
        sink must skip it).

        Checkpoint-scoped keys (``sha1(ckpt)[:12]:batchId``) are probed
        against the ``stream.epoch.<ckpt>`` table PROPERTY first:
        _commit_snapshot maintains it as the max committed batch id per
        checkpoint, and properties live in table metadata, so the probe
        survives expire_snapshots pruning the marker snapshot (round-10
        advice: a crash + expiry + replay window would otherwise
        double-commit). Epochs commit in order within a checkpoint, so
        the max is a complete record. Legacy/bare keys fall back to the
        snapshot-summary scan.

        Caveat: any batchId <= the recorded max counts as a replay. If
        a checkpoint DIRECTORY is deleted and the same path is reused
        by a NEW query, its batch ids restart at 0 and the first
        batches are swallowed as replays — use a fresh checkpoint path
        per logical query (standard Structured Streaming practice;
        wiping a checkpoint already discards the engine's own
        offsets)."""
        self.ops._should_refresh = True
        meta = self.ops.current()
        parts = _epoch_key_parts(epoch_key)
        if parts is not None:
            prev = meta.get("properties", {}).get(
                _STREAM_EPOCH_PROP + parts[0]
            )
            if prev is not None and int(prev) >= parts[1]:
                return True
        return any(
            s.get("summary", {}).get("stream-batch-id") == epoch_key
            for s in meta.get("snapshots", [])
        )

    def overwrite_partitions(self, df: DataFrame) -> dict:
        """Dynamic partition overwrite (backfill): replace ONLY the
        partitions present in ``df``; every other partition's files carry
        over untouched. At 100 TB this is how a daily backfill rewrites
        one day instead of the table. Requires a partition spec; the
        replaced-partition set is recorded in the manifest so the chain
        walk can replay it (old snapshots still see the pre-backfill
        layout)."""
        if not self.partition_spec:
            raise ValueError("overwrite_partitions requires a partitioned table")
        _, entries = self._write_snapshot_files(df)
        replaced = sorted(
            {json.dumps(e.get("partition", {}), sort_keys=True) for e in entries}
        )
        return self._commit_snapshot(
            "dynamic-overwrite",
            entries,
            replaced_partitions=replaced,
            extra_summary={"replaced-partitions": str(len(replaced))},
        )

    def overwrite(self, df: DataFrame, branch: str = "main") -> dict:
        """INSERT OVERWRITE — snapshot whose file set is just the new files."""
        _, entries = self._write_snapshot_files(df)
        return self._commit_snapshot("overwrite", entries, branch)

    # -- row-level operations (MERGE / DELETE emulation) --------------------------
    def delete_where(self, spark: SparkSession, condition) -> dict:
        """Row-level DELETE: rewrite the live rows that do NOT match the
        condition as a 'delete' (chain-resetting) snapshot — copy-on-write
        semantics, same model as Iceberg COW deletes."""
        kept = self.read(spark).filter(~condition)
        _, entries = self._write_snapshot_files(kept)
        return self._commit_snapshot("delete", entries)

    def update_where(self, spark: SparkSession, condition, assignments: dict) -> dict:
        """Row-level UPDATE: copy-on-write rewrite where matching rows get
        each assignment column replaced (non-matching rows pass through
        unchanged), committed as a chain-resetting 'update' snapshot."""
        from pyspark.sql import functions as F

        df = self.read(spark)
        for col, expr_col in assignments.items():
            df = df.withColumn(col, F.when(condition, expr_col).otherwise(F.col(col)))
        _, entries = self._write_snapshot_files(df)
        return self._commit_snapshot("update", entries)

    def delete_where_mor(
        self, spark: SparkSession, condition, equality_cols: list[str]
    ) -> dict:
        """Merge-on-read DELETE (Iceberg v2 equality deletes): instead of
        rewriting every surviving file (copy-on-write — O(table) at
        100 TB), commit a small *delete file* holding the equality-key
        tuples of the deleted rows; readers anti-join it against data
        files older than the delete. The commit costs O(deleted keys); the
        read overhead is one broadcast-sized anti-join until compaction
        materializes the deletes. Re-inserted keys after the delete
        survive (deletes scope to strictly older data files)."""
        keys = (
            self.read(spark).filter(condition).select(*equality_cols).distinct()
        )
        snap_dir = self.ops.data_location(f"snap-{uuid.uuid4()}")
        abs_dir = self.ops.io.spark_path(snap_dir)
        keys.coalesce(1).write.mode("overwrite").parquet(abs_dir)
        column_ids = self.ops.current().get("column-ids")
        deletes = []
        for fi in self.ops.io.list_prefix(snap_dir):
            name = fi.location.rsplit("/", 1)[-1]
            if name.startswith("_") or name.startswith("."):
                continue
            entry = {
                "path": fi.location,
                "size-bytes": fi.size,
                "equality-cols": list(equality_cols),
            }
            if column_ids:
                # key names -> stable ids: the delete keeps applying after
                # a key column is renamed
                entry["column-ids"] = dict(column_ids)
            deletes.append(entry)
        return self._commit_snapshot(
            "delete-mor",
            [],
            delete_files=deletes,
            extra_summary={"equality-delete-files": str(len(deletes))},
        )

    def update_where_mor(
        self,
        spark: SparkSession,
        condition,
        assignments: dict,
        equality_cols: list[str],
    ) -> dict:
        """Merge-on-read UPDATE: equality-delete the matching rows' keys,
        then append the updated versions — two O(changed-rows) commits
        instead of a full copy-on-write rewrite (Iceberg's
        write.update.mode=merge-on-read). The re-appended rows land in a
        snapshot AFTER the delete, so the scoping rule keeps exactly them
        alive."""
        from pyspark.sql import functions as F

        matched = self.read(spark).filter(condition)
        self.delete_where_mor(spark, condition, equality_cols)
        self.ops._should_refresh = True
        updated = matched
        for col, expr_col in assignments.items():
            updated = updated.withColumn(col, expr_col)
        return self._commit_snapshot(
            "append", self._write_snapshot_files(updated)[1]
        )

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
        matched: str = "update",
    ) -> dict:
        """MERGE INTO, emulated as anti-joins + union + snapshot — the
        plan MERGE compiles to in a copy-on-write table format.

        ``matched='update'``: WHEN MATCHED THEN UPDATE SET * /
        WHEN NOT MATCHED THEN INSERT * (upsert — matched target rows are
        replaced by their source row, unmatched source rows inserted).
        ``matched='delete'``: WHEN MATCHED THEN DELETE /
        WHEN NOT MATCHED THEN INSERT * (matched target rows are removed,
        unmatched source rows inserted)."""
        target = self.read(spark)
        remaining = target.join(source.select(*key_cols), key_cols, "left_anti")
        if matched == "update":
            merged = remaining.unionByName(source)
        elif matched == "delete":
            inserts = source.join(target.select(*key_cols), key_cols, "left_anti")
            merged = remaining.unionByName(inserts)
        else:
            raise ValueError(f"unknown matched action {matched!r}")
        _, entries = self._write_snapshot_files(merged)
        return self._commit_snapshot("merge", entries)

    def merge_latest(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
        order_cols: list[str],
        extra_summary: dict | None = None,
    ) -> dict:
        """Ordered upsert: for each key keep the row with the greatest
        (order_cols) tuple across target ∪ source — MERGE's
        ``WHEN MATCHED AND source is newer THEN UPDATE`` in its
        batch-order-independent form, which is what a CDC sink needs when
        micro-batches can arrive out of ts order. Rows tied on BOTH key
        and order columns (e.g. redelivered CDC records) fall through to
        a content-hash tiebreak over the remaining columns, so the
        survivor is a pure function of the data — never of partition
        layout or run-to-run scheduling.

        Plan (round-5 hot-key fix): keep-latest is a ``max_by`` HASH
        AGGREGATION on the key, not a window — a window's
        partitionBy(key) puts a hot key's ENTIRE history in one task and
        sorts it (a viral user_id at 100 TB = one straggler sort),
        whereas max_by partial-aggregates map-side: every task reduces
        its slice of the hot key to ONE candidate row before the
        exchange, so the shuffle carries one row per (task, key) no
        matter how hot the key is. Struct comparison is lexicographic
        with NULL smallest, matching the window's desc-nulls-last order.
        Copy-on-write rewrite (one
        snapshot per call); a 100 TB sink would pair equality deletes on
        the batch's keys with an append instead (``delete_where_mor`` +
        ``append``) to make the commit O(batch), not O(table)."""
        from pyspark.sql import functions as F

        target = self.read(spark)
        combined = target.unionByName(source)
        tie_cols = [
            c for c in combined.columns if c not in key_cols and c not in order_cols
        ]
        rank = F.struct(
            *[F.col(c) for c in order_cols],
            # deterministic final tiebreak: exact ties on key+order pick
            # the row with the greatest payload hash (identical payloads
            # are interchangeable, so any pick is the same row)
            *([F.xxhash64(*tie_cols)] if tie_cols else []),
        )
        latest = (
            combined.groupBy(*key_cols)
            .agg(F.max_by(F.struct(*combined.columns), rank).alias("_row"))
            .select("_row.*")
        )
        _, entries = self._write_snapshot_files(latest)
        return self._commit_snapshot(
            "merge", entries, extra_summary=extra_summary
        )

    # -- branches (refs) -----------------------------------------------------------
    def create_branch(self, name: str, snapshot_id: int | None = None) -> None:
        """Create a named ref at a snapshot (default: current head)."""

        def mutate(meta: dict) -> None:
            refs = meta.setdefault("refs", {})
            if name in refs:
                raise ValueError(f"branch {name!r} already exists")
            refs[name] = (
                snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
            )

        self._evolve(f"create_branch({name})", mutate)

    def branches(self) -> dict:
        return dict(self.ops.current().get("refs", {}))

    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Immutable named ref (Iceberg tag): pins a snapshot under a
        human name — 'v1-release', 'audit-2026-08' — for reproducible
        reads. Unlike a branch, a tag can never be committed to."""

        def mutate(meta: dict) -> None:
            tags = meta.setdefault("tags", {})
            if name in tags:
                raise ValueError(f"tag {name!r} already exists")
            snap = (
                snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
            )
            if snap is None:
                raise ValueError("cannot tag an empty table")
            self._snapshot_entry(meta, snap)  # must exist
            tags[name] = snap

        self._evolve(f"create_tag({name})", mutate)

    def tags(self) -> dict:
        return dict(self.ops.current().get("tags", {}))

    def rollback_to_snapshot(self, snapshot_id: int) -> None:
        """Iceberg's rollback_to_snapshot: move main back to an ancestor
        snapshot as a new metadata version — a metadata-only undo of bad
        commits. History is preserved (the rolled-back snapshots stay
        time-travelable until expired); the snapshot-log records the
        rollback like any other head move."""

        def mutate(meta: dict) -> None:
            target = self._snapshot_entry(meta, snapshot_id)
            if target.get("expired"):
                raise ValueError(f"snapshot {snapshot_id} has been expired")
            # only ancestors of the current head are legal rollback
            # targets. The walk must TOLERATE a parent pointer whose
            # entry expire_snapshots has fully removed (a chain-reset
            # boundary keeps its parent-snapshot-id after the ancestors
            # beyond it are reaped): a missing parent simply ends the
            # ancestry — it was never a legal target — instead of
            # crashing the rollback of a perfectly valid nearer target
            # (found by tools/fuzz_evolution.py seed 3).
            sid = meta.get("current-snapshot-id")
            ancestors = set()
            while sid is not None:
                ancestors.add(sid)
                entry = next(
                    (s for s in meta["snapshots"] if s["snapshot-id"] == sid),
                    None,
                )
                sid = entry.get("parent-snapshot-id") if entry else None
            if snapshot_id not in ancestors:
                raise ValueError(
                    f"snapshot {snapshot_id} is not an ancestor of the current head"
                )
            meta["current-snapshot-id"] = snapshot_id
            meta.setdefault("refs", {})["main"] = snapshot_id
            meta["snapshot-log"].append(
                {"timestamp-ms": int(time.time() * 1000), "snapshot-id": snapshot_id}
            )

        self._evolve(f"rollback_to_snapshot({snapshot_id})", mutate)

    def fast_forward(self, branch: str) -> None:
        """Write-audit-publish: point main at a branch's head. Appends
        staged on an audit branch become visible atomically — the
        publish step of the WAP pattern Iceberg users run for validated
        ingestion.

        Refuses when main is NOT an ancestor of the branch head
        (Iceberg's fast_forward contract): silently overriding a
        diverged main would drop every commit main gained since the
        branch was cut — data loss disguised as a publish. The caller
        re-stages on a fresh branch (or cherry-picks) instead."""

        def mutate(meta: dict) -> None:
            refs = meta.get("refs", {})
            if branch not in refs:
                raise ValueError(f"no such branch {branch!r}")
            head = refs[branch]
            main_head = meta.get("current-snapshot-id")
            if main_head is not None:
                sid = head
                seen = False
                while sid is not None:
                    if sid == main_head:
                        seen = True
                        break
                    entry = next(
                        (s for s in meta["snapshots"] if s["snapshot-id"] == sid),
                        None,
                    )
                    sid = entry.get("parent-snapshot-id") if entry else None
                if not seen:
                    raise ValueError(
                        f"cannot fast-forward main to branch {branch!r}: main "
                        f"has advanced past the branch point (head "
                        f"{main_head} is not an ancestor of the branch head "
                        f"{head}); re-stage on a fresh branch"
                    )
            refs["main"] = head
            meta["current-snapshot-id"] = head
            meta["snapshot-log"].append(
                {"timestamp-ms": int(time.time() * 1000), "snapshot-id": head}
            )

        self._evolve(f"fast_forward({branch})", mutate)

    def cherry_pick_snapshot(self, snapshot_id: int) -> dict:
        """Iceberg's cherrypick_snapshot: re-apply ONE append snapshot's
        added files onto the current main head as a fresh commit — the
        remedy when a WAP publish is refused because main advanced past
        the branch point (fast_forward's divergence guard). Metadata
        only: the staged data files are re-referenced, never rewritten.
        Only 'append' snapshots are cherry-pickable (Iceberg's own
        restriction — replaying an overwrite/delete against a moved base
        could resurrect or re-delete rows the interim commits touched)."""
        meta = self.ops.current()
        snap = self._snapshot_entry(meta, snapshot_id)
        if snap.get("expired"):
            # an expired snapshot's data files may already be DELETED
            # (expire reaps files no retained snapshot references);
            # committing entries that point at reaped paths would break
            # every subsequent read of main
            raise ValueError(f"snapshot {snapshot_id} has been expired")
        if snap["operation"] != "append":
            raise ValueError(
                f"cherry-pick supports append snapshots only; "
                f"{snapshot_id} is {snap['operation']!r}"
            )
        man = self._manifest_for(meta, snapshot_id)
        return self._commit_snapshot(
            "append",
            [dict(f) for f in man["added-files"]],
            extra_summary={"cherry-picked-from": str(snapshot_id)},
        )

    # -- read path ---------------------------------------------------------------
    def _manifest_for(self, meta: dict, snapshot_id: int) -> dict:
        for s in meta["snapshots"]:
            if s["snapshot-id"] == snapshot_id:
                return json.loads(self.ops.io.read_bytes(s["manifest"]))
        raise ValueError(f"no snapshot {snapshot_id}")

    def _snapshot_entry(self, meta: dict, snapshot_id: int) -> dict:
        for s in meta["snapshots"]:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise ValueError(f"no snapshot {snapshot_id}")

    # snapshot operations that EXTEND the parent file set (vs reset it)
    _CHAIN_OPS = ("append", "delete-mor", "dynamic-overwrite")

    def _chain(self, meta: dict, snapshot_id: int | None) -> list[dict]:
        """The snapshots whose manifests make up a snapshot's file set,
        newest first: its parent chain back to the nearest snapshot
        that resets the file set (an overwrite / replace)."""
        chain: list[dict] = []
        sid = snapshot_id
        while sid is not None:
            snap = self._snapshot_entry(meta, sid)
            chain.append(snap)
            if snap["operation"] not in self._CHAIN_OPS:
                break  # file set resets here; older history is shadowed
            sid = snap["parent-snapshot-id"]
        return chain

    def _data_files(self, meta: dict, snapshot_id: int) -> list[dict]:
        """Reconstruct a snapshot's live file set by walking its parent
        chain: 'append'/'delete-mor' contribute to the parent set;
        'overwrite' / 'replace' reset it to their own added files. Each
        returned entry is annotated with its data sequence number
        (``_snap``, in-memory only) so merge-on-read can scope delete
        files. The sequence is normally the adding snapshot id, but an
        entry carried forward by a metadata-only rewrite (see
        ``rewrite_manifests``) keeps its ORIGINAL sequence in a persisted
        ``seq`` field — Iceberg's data-sequence-number inheritance — so
        older equality deletes still apply after the rewrite."""
        files: list[dict] = []
        for snap in reversed(self._chain(meta, snapshot_id)):
            man = self._manifest_for(meta, snap["snapshot-id"])
            if snap["operation"] == "dynamic-overwrite":
                # backfill semantics: drop the parent's files in the
                # replaced partitions, keep everything else
                rep = set(man.get("replaced-partitions", []))
                files = [
                    f
                    for f in files
                    if json.dumps(f.get("partition", {}), sort_keys=True) not in rep
                ]
            files.extend(
                dict(f, _snap=f.get("seq", snap["snapshot-id"]))
                for f in man["added-files"]
            )
        return files

    def _delete_files(self, meta: dict, snapshot_id: int) -> list[dict]:
        """Live equality-delete files for a snapshot: every delete-file
        entry on the chain's manifests, annotated with its sequence
        number. A delete applies only to data files with a STRICTLY
        SMALLER sequence (Iceberg's sequence-number rule: re-inserting a
        deleted key later must survive). Delete files are written by
        'delete-mor' snapshots and carried forward — with their original
        sequence persisted as ``seq`` — by metadata-only 'replace'
        snapshots (``rewrite_manifests``), so both are collected here."""
        out: list[dict] = []
        for snap in self._chain(meta, snapshot_id):
            # only delete-mor and carried-forward replace manifests have a
            # delete-files list; skip the manifest read for the rest
            if snap["operation"] != "delete-mor" and not snap.get("summary", {}).get(
                "carried-delete-files"
            ):
                continue
            for d in self._manifest_for(meta, snap["snapshot-id"]).get(
                "delete-files", []
            ):
                out.append(dict(d, _snap=d.get("seq", snap["snapshot-id"])))
        return out

    def _resolve_snapshot(
        self, meta: dict, snapshot_id: int | None, as_of_timestamp_ms: int | None
    ) -> int | None:
        if snapshot_id is not None:
            if self._snapshot_entry(meta, snapshot_id).get("expired"):
                raise ValueError(f"snapshot {snapshot_id} has been expired")
            return snapshot_id
        if as_of_timestamp_ms is not None:
            eligible = [
                s["snapshot-id"]
                for s in meta["snapshots"]
                if s["timestamp-ms"] <= as_of_timestamp_ms and not s.get("expired")
            ]
            if not eligible:
                raise ValueError(f"no snapshot at or before {as_of_timestamp_ms}")
            return max(eligible)
        return meta.get("current-snapshot-id")

    def schema(self) -> StructType:
        return StructType.fromJson(self.ops.current()["schema"])

    def _prune(
        self,
        entries: list[dict],
        partition_filter: dict | None,
        column_ranges: dict | None,
    ) -> list[dict]:
        if column_ranges:
            # hidden partitioning: a range predicate on a transform's SOURCE
            # column prunes on the derived layout value. Order-preserving
            # transforms prune ranges; bucket prunes EQUALITY predicates
            # with the era-appropriate driver-side mirror
            # (bucket_hash.py: spec Murmur3, or the pinned xxhash64
            # mirror for legacy-era layouts).
            cur_meta = self.ops.current()
            bucket_hash = cur_meta.get("bucket-hash", "xxhash64")
            # bucket-hash migration era point: files with data sequence
            # at or below it were laid out by the LEGACY xxhash64 and
            # must keep pruning with that mirror even after the table
            # flipped to murmur3 (migrate_bucket_hash) — hashing a
            # legacy tuple with the new function would silently skip
            # live rows
            mig_snap = cur_meta.get("bucket-hash-migration-snap")
            for fdef in (parse_partition_field(e) for e in self.partition_spec):
                if fdef["kind"] == "identity" or fdef["source"] not in column_ranges:
                    continue
                lo, hi = column_ranges[fdef["source"]]
                if fdef["kind"] == "bucket":
                    if lo is None or lo != hi:
                        continue
                    from iceberg_relative_io_spark.catalog import bucket_hash as bh

                    # Spark's xxhash64 is WIDTH-SENSITIVE for integers
                    # (hashInt vs hashLong), so the legacy mirror needs
                    # the source column's type
                    src_type = None
                    try:
                        src_type = self.schema()[fdef["source"]].dataType
                    except Exception:
                        pass
                    try:
                        want_m3 = (
                            str(bh.bucket_value(lo, fdef["arg"]))
                            if bucket_hash == "murmur3"
                            else None
                        )
                    except TypeError:
                        want_m3 = None
                    want_leg = None
                    if bucket_hash != "murmur3" or mig_snap is not None:
                        try:
                            b = bh.legacy_bucket_value(
                                lo, fdef["arg"], source_type=src_type
                            )
                            want_leg = str(b) if b is not None else None
                        except TypeError:
                            want_leg = None

                    def in_bucket(
                        f: dict,
                        name=fdef["name"],
                        m3=want_m3,
                        leg=want_leg,
                    ) -> bool:
                        v = f.get("partition", {}).get(name)
                        if v is None:
                            return True
                        legacy_era = bucket_hash != "murmur3" or (
                            mig_snap is not None
                            and f.get("_snap", 0) <= mig_snap
                        )
                        want = leg if legacy_era else m3
                        # unsupported source type for the era's mirror:
                        # keep (never a wrong skip)
                        return want is None or v == want

                    entries = [f for f in entries if in_bucket(f)]
                    continue
                tlo, thi = _transform_value(fdef, lo), _transform_value(fdef, hi)

                def in_layout(f: dict, name=fdef["name"], tlo=tlo, thi=thi) -> bool:
                    v = f.get("partition", {}).get(name)
                    if v is None:
                        return True  # other-era / bucket layouts: keep
                    return (tlo is None or v >= tlo) and (thi is None or v <= thi)

                entries = [f for f in entries if in_layout(f)]
        if partition_filter:
            # prune only on keys the file's own layout recorded: after
            # partition evolution, old-layout files lack the new key and
            # must be kept (conservative), never wrongly skipped
            def part_match(f: dict) -> bool:
                tup = f.get("partition", {})
                return all(
                    k not in tup or tup[k] == str(v)
                    for k, v in partition_filter.items()
                )

            entries = [f for f in entries if part_match(f)]
        if column_ranges:
            def may_match(f: dict) -> bool:
                mins, maxs = f.get("min", {}), f.get("max", {})
                for col, (lo, hi) in column_ranges.items():
                    if col in mins and hi is not None and mins[col] > hi:
                        return False
                    if col in maxs and lo is not None and maxs[col] < lo:
                        return False
                return True  # missing stats => cannot skip, never wrong

            entries = [f for f in entries if may_match(f)]

            def bloom_match(f: dict) -> bool:
                # equality predicates test the manifest bloom: definite
                # absence skips the file even when min/max spans the value
                # (high-cardinality keys in randomly-distributed files);
                # false positives / missing blooms keep it — never wrong
                blooms = f.get("bloom", {})
                for col, (lo, hi) in column_ranges.items():
                    if lo is None or lo != hi or col not in blooms:
                        continue
                    bits = bytes.fromhex(blooms[col])
                    for pos in self._bloom_bits(lo):
                        if not (bits[pos >> 3] >> (pos & 7)) & 1:
                            return False
                return True

            entries = [f for f in entries if bloom_match(f)]
        return entries

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        partition_filter: dict | None = None,
        column_ranges: dict | None = None,
        branch: str | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """B4/B28: scan, optionally time-traveling to an old snapshot.

        ``partition_filter`` ({col: value}) and ``column_ranges``
        ({col: (lo, hi)}) prune at the *manifest* level — files whose
        recorded partition tuple or footer min/max can't match never
        reach Spark's scan, so a filtered read of a 100 TB table plans
        only the surviving files (the job Iceberg manifests + stats do).
        Range pruning is conservative: files without stats are kept."""
        meta = self.ops.current()
        if tag is not None:
            tags = meta.get("tags", {})
            if tag not in tags:
                raise ValueError(f"no such tag {tag!r}")
            snap = tags[tag]
        elif branch is not None:
            refs = meta.get("refs", {})
            if branch not in refs:
                raise ValueError(f"no such branch {branch!r}")
            snap = refs[branch]
        else:
            snap = self._resolve_snapshot(meta, snapshot_id, as_of_timestamp_ms)
        # an empty table (no snapshot) walks no chain and reads no file
        entries = self._prune(self._data_files(meta, snap), partition_filter, column_ranges)
        return self._scan(spark, meta, entries, self._delete_files(meta, snap))

    def _changelog_plan(
        self, meta: dict, from_sid: int, to_sid: int
    ) -> tuple[list[dict], list[dict], set, list[dict], list[dict]]:
        """Metadata-only scan plan for :meth:`changelog`: which data
        files of each snapshot must be read to compute the net row
        diff. A file present in both snapshots under an identical
        delete view (same applicable equality-delete files by the
        strict-sequence rule, same data sequence) contributes the same
        row multiset to both sides and cancels exactly — it is pruned
        from BOTH reads before any IO, so an incremental diff scans
        O(changed files), never O(table). Returns
        (old_entries, new_entries, cancelled_paths, old_deletes,
        new_deletes) — the delete lists ride along so the caller never
        re-walks the snapshot chains this plan already walked."""

        def state(sid):
            files = self._data_files(meta, sid)
            dels = self._delete_files(meta, sid)
            view = {
                f["path"]: (
                    sorted(d["path"] for d in dels if d["_snap"] > f["_snap"]),
                    f["_snap"],
                )
                for f in files
            }
            return view, files, dels

        view_f, files_f, dels_f = state(from_sid)
        view_t, files_t, dels_t = state(to_sid)
        cancelled = {p for p, v in view_f.items() if view_t.get(p) == v}
        return (
            [f for f in files_f if f["path"] not in cancelled],
            [f for f in files_t if f["path"] not in cancelled],
            cancelled,
            dels_f,
            dels_t,
        )

    def changelog(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """CDC read: the NET multiset row diff between two snapshots —
        one output row per changed row value with ``_change_type``
        (``INSERT``/``DELETE``) and ``_n`` (copies appeared/vanished).
        Native-format parity with the mirror plane's
        ``changelog_iceberg``; an UPDATE surfaces as its value pair,
        maintenance (compact / rewrite_manifests / expire) contributes
        nothing. Both reads resolve onto the CURRENT schema (the native
        read path's id-based era resolution), and the plan is
        metadata-first (:meth:`_changelog_plan`) so unchanged files
        never scan and the single hash aggregation shuffles only rows
        from files that changed."""
        meta = self.ops.current()
        to_sid = (
            to_snapshot_id
            if to_snapshot_id is not None
            else meta.get("current-snapshot-id")
        )
        # same endpoint validation as read(): unknown ids raise, and an
        # EXPIRED endpoint raises rather than planning reaped files into
        # a scan (an expired snapshot's unreferenced files are deleted)
        self._resolve_snapshot(meta, from_snapshot_id, None)
        self._resolve_snapshot(meta, to_sid, None)
        old_e, new_e, _, dels_f, dels_t = self._changelog_plan(
            meta, from_snapshot_id, to_sid
        )
        return net_diff(
            self._scan(spark, meta, old_e, dels_f),
            self._scan(spark, meta, new_e, dels_t),
        )

    @staticmethod
    def _delete_keys(d: dict, cur_ids: dict) -> list[tuple[str, str]]:
        """(name in the delete file, current name) per equality key of a
        MOR delete entry: by id where the entry records ``column-ids``,
        so a key column renamed after the delete still matches, else by
        the current name."""
        ids = d.get("column-ids") if cur_ids else None
        if not ids:
            return [(c, c) for c in d["equality-cols"]]
        name_of = {i: n for n, i in cur_ids.items()}
        for c in d["equality-cols"]:
            if ids.get(c) not in name_of:
                raise ValueError(
                    f"equality delete {d['path']!r} keys on column {c!r}, "
                    "which the current schema dropped; compact before "
                    "dropping delete-key columns"
                )
        return [(c, name_of[ids[c]]) for c in d["equality-cols"]]

    def _scan(
        self,
        spark: SparkSession,
        meta: dict,
        entries: list[dict],
        deletes: list[dict] = (),
    ) -> DataFrame:
        """Read manifest entries under the current schema, as one plan of
        the merge-on-read planner both formats share (``scan.plan_scan``),
        which reads small delete files through ``ops.io``.
        An entry's data sequence is its ``_snap``; each ``column-ids``
        map is a column era, resolving the file's physical names to the
        current fields by id (a renamed column resolves; an id the file
        lacks — added, or dropped and re-added — reads NULL); identity
        partition values come from the manifest's ``partition`` tuple,
        typed by a cast to the column's type. Nothing is inferred from
        the file system."""
        schema = StructType.fromJson(meta["schema"])
        cur_ids = meta.get("column-ids") or {}
        eras: dict[str, dict] = {}  # column-ids map (as JSON) -> era
        files = []
        for e in entries:
            file_ids = e.get("column-ids") if cur_ids else None
            key = json.dumps(file_ids, sort_keys=True)
            if key not in eras:
                phys = {i: n for n, i in (file_ids or {}).items()}
                eras[key] = {
                    # legacy entries were written under the current names
                    "cols": {
                        f.name: [phys[cur_ids[f.name]] if file_ids else f.name]
                        for f in schema.fields
                        if not file_ids or cur_ids.get(f.name) in phys
                    },
                    "other": [n for i, n in phys.items() if i not in cur_ids.values()],
                }
            part = e.get("partition", {})
            files.append(
                {
                    "path": self.ops.io.spark_path(e["path"]),
                    "seq": e.get("_snap", 0),
                    "era": key,
                    "ident": {
                        f: None if part[n] == _HIVE_NULL else part[n]
                        for f, (n,) in eras[key]["cols"].items()
                        if n in part
                    },
                }
            )
        dels = []
        for d in deletes:
            keys = self._delete_keys(d, cur_ids)
            dels.append(
                {
                    "kind": "eq",
                    "path": self.ops.io.spark_path(d["path"]),
                    "file": d["path"],
                    "seq": d["_snap"],
                    "bytes": int(d.get("size-bytes") or 0),
                    "cols": [cur for _, cur in keys],
                    "names": [[phys] for phys, _ in keys],
                }
            )
        identity = dict.fromkeys(f for x in files for f in x["ident"])
        identity = [StructField(f, StringType()) for f in identity]
        return plan_scan(
            spark, schema.fields, files, dels, eras,
            lambda d, columns: self.ops.io.parquet_table(d["file"], columns),
            identity,
        )

    def incremental_files(
        self, from_snapshot_id: int | None, to_snapshot_id: int | None = None
    ) -> list[dict]:
        """Manifest entries added strictly after ``from_snapshot_id`` up to
        and including ``to_snapshot_id`` (default: current head). This is
        the CDC read incremental manifests make O(changed files): walk the
        parent chain, collect each append's added files. Raises if the
        chain crosses a non-append snapshot (overwrite/delete/update reset
        the file set, so 'rows added since' is no longer well-defined)."""
        meta = self.ops.current()
        to_id = (
            to_snapshot_id
            if to_snapshot_id is not None
            else meta.get("current-snapshot-id")
        )
        if to_id is None:
            return []
        files: list[dict] = []
        sid: int | None = to_id
        while sid is not None and sid != from_snapshot_id:
            snap = self._snapshot_entry(meta, sid)
            if snap["operation"] != "append":
                raise ValueError(
                    f"snapshot {sid} is {snap['operation']!r}; incremental read "
                    "requires an append-only chain"
                )
            files.append(self._manifest_for(meta, sid)["added-files"])
            sid = snap["parent-snapshot-id"]
        if sid is None and from_snapshot_id not in (None, 0):
            raise ValueError(
                f"snapshot {from_snapshot_id} is not an ancestor of {to_id}"
            )
        return [f for manifest in reversed(files) for f in manifest]

    def incremental_read(
        self,
        spark: SparkSession,
        from_snapshot_id: int | None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Rows appended between two snapshots (exclusive, inclusive)."""
        entries = self.incremental_files(from_snapshot_id, to_snapshot_id)
        return self._scan(spark, self.ops.current(), entries)

    def scan_files(
        self,
        snapshot_id: int | None = None,
        partition_filter: dict | None = None,
        column_ranges: dict | None = None,
    ) -> list[dict]:
        """Planned file list (for tests / the `.files` metadata view)."""
        meta = self.ops.current()
        snap = self._resolve_snapshot(meta, snapshot_id, None)
        return self._prune(self._data_files(meta, snap), partition_filter, column_ranges)

    # -- maintenance ------------------------------------------------------------
    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Iceberg's expire_snapshots: drop old snapshots from the
        time-travelable surface and delete data files no retained
        snapshot references.

        With incremental manifests an expired snapshot may still be an
        *ancestor* of a retained one (its manifest feeds the chain walk),
        so expired entries whose manifests are still needed are
        tombstoned (``expired: true`` — invisible to reads/.snapshots)
        rather than removed; fully unreferenced manifests and data files
        are deleted. Returns {"expired": n, "deleted_files": n}."""
        for _ in range(_COMMIT_RETRIES):
            meta = json.loads(json.dumps(self.ops.current()))
            base = self.ops.current_version()
            live = [s for s in meta["snapshots"] if not s.get("expired")]
            if len(live) <= keep_last:
                return {"expired": 0, "deleted_files": 0}
            # every ref head (branches AND tags) is always retained;
            # keep_last applies to main
            retained = {v for v in meta.get("refs", {}).values() if v is not None}
            retained.update(meta.get("tags", {}).values())
            main_live = [s for s in live if s.get("branch", "main") == "main"]
            retained.update(s["snapshot-id"] for s in main_live[-keep_last:])
            if all(s["snapshot-id"] in retained for s in live):
                return {"expired": 0, "deleted_files": 0}
            # manifests needed: every chain ancestor of a retained snapshot
            needed = {
                s["snapshot-id"] for sid in retained for s in self._chain(meta, sid)
            }
            live_files = set()
            for sid in retained:
                live_files.update(f["path"] for f in self._data_files(meta, sid))
            for sid in needed:
                # equality-delete files of tombstoned chain snapshots are
                # still read by retained heads — never doom them
                live_files.update(
                    d["path"]
                    for d in self._manifest_for(meta, sid).get("delete-files", [])
                )

            expiring = [s for s in live if s["snapshot-id"] not in retained]
            doomed_files: set[str] = set()
            for s in expiring:
                man = self._manifest_for(meta, s["snapshot-id"])
                for f in man["added-files"] + man.get("delete-files", []):
                    if f["path"] not in live_files:
                        doomed_files.add(f["path"])

            new_snapshots = []
            doomed_manifests = []
            for s in meta["snapshots"]:
                if s["snapshot-id"] in retained or s.get("expired"):
                    new_snapshots.append(s)
                elif s["snapshot-id"] in needed:
                    s = dict(s, expired=True)  # tombstone: keeps the chain walk alive
                    new_snapshots.append(s)
                else:
                    doomed_manifests.append(s["manifest"])
            meta["snapshots"] = new_snapshots
            try:
                self.ops.commit(base, meta)
            except CommitFailedError:
                self.ops._should_refresh = True
                continue
            for path in doomed_files:
                try:
                    self.ops.io.delete_spark_file(path)
                except Exception:
                    pass
            for path in doomed_manifests:
                try:
                    self.ops.io.delete_file(path)
                except Exception:
                    pass
            return {"expired": len(expiring), "deleted_files": len(doomed_files)}
        raise CommitFailedError("expire_snapshots lost all commit races")

    def remove_orphan_files(self) -> list[str]:
        """Iceberg's remove_orphan_files: delete data files under the
        table's data/ prefix that no snapshot (live or tombstoned)
        references — the debris of failed writes — and the Hadoop
        sidecars nothing needs any more: a ``.crc`` whose file is gone,
        and a ``_SUCCESS`` marker (with its ``.crc``) of a write none of
        whose files is left — and the directories that leaves empty.
        Returns deleted file paths."""
        meta = self.ops.current()
        referenced: set[str] = set()
        for s in meta["snapshots"]:
            man = self._manifest_for(meta, s["snapshot-id"])
            referenced.update(f["path"] for f in man["added-files"])
            referenced.update(d["path"] for d in man.get("delete-files", []))
        deleted = []
        kept: set[str] = set()
        markers: list[str] = []
        for fi in self.ops.io.list_prefix(f"{self.ops.location}/data"):
            name = fi.location.rsplit("/", 1)[-1]
            if name.startswith("_") or name.startswith("."):
                markers.append(fi.location)
            elif fi.location in referenced:
                kept.add(fi.location)
            else:
                try:
                    self.ops.io.delete_file(fi.location)
                    deleted.append(fi.location)
                except Exception:
                    kept.add(fi.location)
        for loc in orphan_sidecars(kept, markers):
            try:
                self.ops.io.delete_file(loc)
                deleted.append(loc)
            except Exception:
                pass
        self.ops.io.delete_empty_dirs(f"{self.ops.location}/data")
        return deleted

    def compact(self, spark: SparkSession, target_partitions: int = 1) -> dict:
        """Small-file compaction (the `rewrite_data_files` maintenance op):
        rewrite the current file set into ``target_partitions`` files per
        partition as a 'replace' snapshot. Readers of old snapshots are
        unaffected — time travel still sees the pre-compaction layout.
        Sort-ordered tables recluster on rewrite (the range repartition in
        the write path supersedes ``target_partitions``)."""
        df = self.read(spark).coalesce(target_partitions)
        _, entries = self._write_snapshot_files(df)
        return self._commit_snapshot("replace", entries)

    def migrate_bucket_hash(self) -> dict:
        """Metadata-only migration of a legacy ``pmod(xxhash64(x), N)``
        bucket layout to the Iceberg-spec Murmur3 (``bucket-hash:
        murmur3``): no file moves, no manifest rewrite — the commit
        stamps the current snapshot id as
        ``bucket-hash-migration-snap``, the era point every consumer
        keys on:

        - WRITES after the migration lay buckets out with the spec
          Murmur3, so fresh files are externally prunable.
        - Native point reads prune BOTH eras correctly: ``_prune``
          hashes with the xxhash64 mirror for entries whose data
          sequence is at or below the era point and with Murmur3 above
          it (hashing a legacy tuple with the new function would
          silently skip live rows).
        - EXPORT retains ``bucket[N]`` in the partition spec (the whole
          point of migrating); legacy-era entries export their bucket
          value as NULL — Iceberg's own spec-evolution rule (files
          predating a partition field carry null and are never pruned
          by it), so an external engine scans the old files and prunes
          the new ones.
        - Old snapshots still time-travel: their entries all sit at or
          below the era point, so they keep legacy-mirror pruning; a
          later ``compact`` / ``rewrite_zorder`` rewrites everything
          into murmur3-era files and retires the split entirely.
        - Caveat (same as Iceberg partition-spec evolution): a dynamic
          partition overwrite matches partitions by their RECORDED
          tuples, so it replaces only same-era files of a bucket
          partition; compact first if an overwrite must span both eras.

        Refused when the table already hashes with murmur3 or has no
        bucket field (nothing to migrate — a no-op flip would only
        confuse the era rule)."""
        if not any(
            parse_partition_field(e)["kind"] == "bucket"
            for e in self.partition_spec
        ):
            raise ValueError(
                "migrate_bucket_hash: table has no bucket[] partition field"
            )

        def mutate(meta: dict) -> dict:
            if meta.get("bucket-hash") == "murmur3":
                raise ValueError(
                    "migrate_bucket_hash: table already hashes buckets "
                    "with the spec murmur3"
                )
            # era point = the HIGHEST existing snapshot id, not main's
            # head: snapshot ids are a global max+1 counter, so a branch
            # or WAP stage-only append can sit ABOVE main's head while
            # still being legacy-hashed — anchoring on main would
            # classify those files as murmur3-era and prune/export them
            # by the wrong hash (silent row loss on branch reads)
            mig_snap = max(
                (s["snapshot-id"] for s in meta.get("snapshots", [])),
                default=meta.get("current-snapshot-id"),
            )
            meta["bucket-hash"] = "murmur3"
            if mig_snap is not None:
                meta["bucket-hash-migration-snap"] = mig_snap
            meta["last-updated-ms"] = int(time.time() * 1000)
            return {"bucket-hash": "murmur3", "migration-snap": mig_snap}

        return self._evolve("migrate_bucket_hash", mutate)

    def rewrite_manifests(self) -> dict:
        """Manifest compaction (Iceberg's `rewrite_manifests` procedure):
        a METADATA-ONLY 'replace' snapshot that re-lists the current live
        file set in one manifest — zero data movement, no Spark job. The
        incremental-manifest design makes commits O(added files), but the
        read-side `_data_files` walk is O(chain length) since the last
        reset; at a high commit rate (streaming ingest lands one append
        per micro-batch) this procedure bounds the walk again. Old
        snapshots still time-travel through their own chains.

        Live merge-on-read equality-delete files are carried into the
        replace manifest, and every carried entry (data AND delete)
        persists its original sequence number as ``seq`` so the
        delete-applies-to-strictly-older-data scoping survives the
        rewrite — without this, a replace would reset the chain walk and
        resurrect MOR-deleted rows (Iceberg solves the same problem with
        manifest-entry sequence-number inheritance)."""
        meta = self.ops.current()
        snap = self._resolve_snapshot(meta, None, None)
        if snap is None:
            return self._commit_snapshot("replace", [])

        def carry(f: dict) -> dict:
            out = {k: v for k, v in f.items() if k != "_snap"}
            out["seq"] = f["_snap"]
            return out

        entries = [carry(f) for f in self._data_files(meta, snap)]
        deletes = [carry(d) for d in self._delete_files(meta, snap)]
        return self._commit_snapshot(
            "replace",
            entries,
            delete_files=deletes or None,
            extra_summary=(
                {"carried-delete-files": str(len(deletes))} if deletes else None
            ),
        )

    def rewrite_zorder(
        self,
        spark: SparkSession,
        cols: list[str],
        target_partitions: int = 8,
        bits: int = 16,
    ) -> dict:
        """`rewrite_data_files(strategy='sort', sort_order=zorder(cols))`:
        recluster the table on a Morton (z-order) curve over several
        numeric columns, so footer min/max become selective on ALL of them
        at once — a single-column sort order can range-prune only its
        leading column; z-order lets a 100 TB table skip files for filters
        on any clustered dimension.

        Mechanics: each column is min/max-normalized to ``bits`` bits
        (one tiny agg for the bounds — driver-side scalars, not data), the
        bit-planes are interleaved with shift/and/or Column expressions
        (whole-stage codegen, no UDF), and rows are range-repartitioned +
        sorted on the z-value before the rewrite commits as a 'replace'
        snapshot. Time travel to the pre-rewrite layout still works."""
        from pyspark.sql import functions as F

        df = self.read(spark)
        bounds = df.agg(
            *[F.min(c).alias(f"lo_{c}") for c in cols],
            *[F.max(c).alias(f"hi_{c}") for c in cols],
        ).collect()[0]
        top = (1 << bits) - 1
        quantized = []
        for c in cols:
            lo, hi = bounds[f"lo_{c}"], bounds[f"hi_{c}"]
            span = (hi - lo) or 1
            q = F.floor((F.col(c) - F.lit(lo)) * top / F.lit(span)).cast("long")
            quantized.append(F.greatest(F.lit(0), F.least(F.lit(top), q)))
        z = F.lit(0).cast("long")
        for b in range(bits):
            for i, q in enumerate(quantized):
                z = z + F.shiftleft(
                    F.shiftright(q, b).bitwiseAND(F.lit(1)), b * len(cols) + i
                )
        clustered = (
            df.withColumn("_zval", z)
            .repartitionByRange(target_partitions, "_zval")
            .sortWithinPartitions("_zval")
            .drop("_zval")
        )
        _, entries = self._write_snapshot_files(clustered, pre_distributed=True)
        return self._commit_snapshot(
            "replace", entries, extra_summary={"zorder-by": ",".join(cols)}
        )

    # -- schema evolution ---------------------------------------------------------
    def add_column(self, name: str, spark_type: str) -> None:
        """Additive schema evolution: new nullable column in metadata only.
        Old data files are untouched; the declared-schema read surfaces
        NULL for them (schema-on-read reconciliation, mirroring the
        reference format's metadata-driven schema, SURVEY.md §1.3). The
        column gets a fresh id — ids are never reused, so a previously
        dropped column of the same name cannot resurface old values."""

        def mutate(meta: dict) -> None:
            if any(f["name"] == name for f in meta["schema"]["fields"]):
                raise ValueError(f"column {name} already exists")
            meta["schema"]["fields"].append(
                {"name": name, "type": spark_type, "nullable": True, "metadata": {}}
            )
            if "column-ids" in meta:
                meta["last-column-id"] = meta.get("last-column-id", 0) + 1
                meta["column-ids"][name] = meta["last-column-id"]

        self._evolve(f"add_column({name})", mutate)

    def rename_column(self, old: str, new: str) -> None:
        """Metadata-only rename: the name moves, the column id stays, so
        files from every era read correctly under the new name."""

        def mutate(meta: dict) -> None:
            if "column-ids" not in meta:
                raise ValueError(
                    "table predates column-id metadata; rename is unsupported"
                )
            if old in [
                parse_partition_field(e)["source"]
                for e in meta.get("partition-spec", [])
            ]:
                raise ValueError(f"cannot rename partition column {old!r}")
            fields = meta["schema"]["fields"]
            if not any(f["name"] == old for f in fields):
                raise ValueError(f"no such column {old!r}")
            if any(f["name"] == new for f in fields):
                raise ValueError(f"column {new!r} already exists")
            for f in fields:
                if f["name"] == old:
                    f["name"] = new
            meta["column-ids"][new] = meta["column-ids"].pop(old)

        self._evolve(f"rename_column({old}->{new})", mutate)

    def drop_column(self, name: str) -> None:
        """Metadata-only drop; the id is retired, never reused."""

        def mutate(meta: dict) -> None:
            if "column-ids" not in meta:
                raise ValueError(
                    "table predates column-id metadata; drop is unsupported"
                )
            if name in [
                parse_partition_field(e)["source"]
                for e in meta.get("partition-spec", [])
            ]:
                raise ValueError(f"cannot drop partition column {name!r}")
            fields = meta["schema"]["fields"]
            if not any(f["name"] == name for f in fields):
                raise ValueError(f"no such column {name!r}")
            if len(fields) == 1:
                raise ValueError("cannot drop the last column")
            meta["schema"]["fields"] = [f for f in fields if f["name"] != name]
            meta["column-ids"].pop(name, None)

        self._evolve(f"drop_column({name})", mutate)

    # Iceberg's legal type promotions: widening only, so every value in
    # old data files remains exactly representable (Spark's parquet reader
    # upcasts int32→int64 / float→double at scan time)
    _WIDENINGS = {("integer", "long"), ("float", "double")}

    def widen_column(self, name: str, new_type: str) -> None:
        """Type promotion (Iceberg schema-evolution parity): widen a
        column in metadata only; old files keep their narrow physical
        type and upcast at read. decimal(p,s) may grow precision at the
        same scale."""

        def mutate(meta: dict) -> None:
            for f in meta["schema"]["fields"]:
                if f["name"] != name:
                    continue
                old = f["type"]
                ok = (old, new_type) in self._WIDENINGS
                if not ok and isinstance(old, str):
                    mo = re.fullmatch(r"decimal\((\d+),(\d+)\)", old)
                    mn = re.fullmatch(r"decimal\((\d+),(\d+)\)", new_type)
                    ok = bool(
                        mo
                        and mn
                        and mo.group(2) == mn.group(2)
                        and int(mn.group(1)) >= int(mo.group(1))
                    )
                if not ok:
                    raise ValueError(
                        f"illegal promotion {old!r} -> {new_type!r} for {name!r}"
                    )
                f["type"] = new_type
                return
            raise ValueError(f"no such column {name!r}")

        self._evolve(f"widen_column({name}->{new_type})", mutate)

    def update_sort_order(self, cols: list[str]) -> None:
        """ALTER TABLE WRITE ORDERED BY: set the write-clustering sort
        order (metadata-only). Future writes range-repartition + sort on
        these columns so footer min/max become range-prunable; existing
        files are untouched until rewritten."""

        def mutate(meta: dict) -> None:
            fields = {f["name"] for f in meta["schema"]["fields"]}
            missing = [c for c in cols if c not in fields]
            if missing:
                raise ValueError(f"sort columns not in schema: {missing}")
            meta["sort-order"] = list(cols)

        self._evolve(f"update_sort_order({cols})", mutate)

    def set_properties(self, props: dict[str, str]) -> None:
        """ALTER TABLE SET TBLPROPERTIES: merge key/values into table
        properties as a metadata-only commit. Properties already steer
        behavior (write.metadata.compression); user keys ride along."""

        def mutate(meta: dict) -> None:
            meta.setdefault("properties", {}).update(
                {str(k): str(v) for k, v in props.items()}
            )

        self._evolve(f"set_properties({sorted(props)})", mutate)

    def unset_properties(self, keys: list[str]) -> None:
        def mutate(meta: dict) -> None:
            for k in keys:
                meta.get("properties", {}).pop(k, None)

        self._evolve(f"unset_properties({keys})", mutate)

    def properties(self) -> dict:
        return dict(self.ops.current().get("properties", {}))

    def update_partition_spec(self, new_spec: list[str]) -> None:
        """Partition evolution (Iceberg parity): change how FUTURE writes
        are laid out, as a metadata-only commit. Existing files keep the
        layout of the spec they were written under — each manifest entry
        records its own partition tuple, the read path restores identity
        values from that tuple per file (a file from before the key was
        added keeps the column it holds), and pruning only skips a file
        when the filtered key is actually present in its tuple
        (old-layout files are conservatively kept). This is what lets a 100 TB table switch
        from daily to hourly partitioning without rewriting history."""

        def mutate(meta: dict) -> None:
            fields = {f["name"] for f in meta["schema"]["fields"]}
            missing = [
                e for e in new_spec if parse_partition_field(e)["source"] not in fields
            ]
            if missing:
                raise ValueError(f"partition columns not in schema: {missing}")
            meta["partition-spec"] = list(new_spec)

        self._evolve(f"update_partition_spec({new_spec})", mutate)

    def _evolve(self, what: str, mutate):
        """The retry loop of every metadata-only commit: ``mutate`` edits
        a copy of the current metadata (raising to refuse), the copy
        commits, a lost race refreshes and re-runs ``mutate``. Returns
        ``mutate``'s result."""
        for _ in range(_COMMIT_RETRIES):
            meta = json.loads(json.dumps(self.ops.current()))
            base = self.ops.current_version()
            result = mutate(meta)
            try:
                self.ops.commit(base, meta)
                return result
            except CommitFailedError:
                self.ops._should_refresh = True
        raise CommitFailedError(f"{what} lost {_COMMIT_RETRIES} races")

    # -- metadata introspection (B29) -----------------------------------------------
    def snapshots(self, spark: SparkSession) -> DataFrame:
        """The `.snapshots` metadata table (reference README.md:74-97 shape)."""
        meta = self.ops.current()
        rows = [
            (
                s["snapshot-id"],
                s["parent-snapshot-id"],
                s["timestamp-ms"],
                s["operation"],
                int(s["summary"]["added-data-files"]),
                int(s["summary"]["total-data-files"]),
                s["snapshot-id"] == meta.get("current-snapshot-id"),
            )
            for s in meta["snapshots"]
            if not s.get("expired")
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, parent_id long, timestamp_ms long, operation string, "
            "added_files int, total_files int, is_current boolean",
        )

    def partitions(self, spark: SparkSession) -> DataFrame:
        """The `.partitions` metadata table: per-partition file count, row
        count, and bytes for the current snapshot — what a maintenance
        planner reads to find skewed or fragmented partitions (Iceberg's
        partitions table role)."""
        meta = self.ops.current()
        snap = meta.get("current-snapshot-id")
        agg: dict[str, list[int]] = {}
        if snap is not None:
            for f in self._data_files(meta, snap):
                key = json.dumps(f.get("partition", {}), sort_keys=True)
                n_files, n_rows, n_bytes = agg.get(key, (0, 0, 0))
                agg[key] = (
                    n_files + 1,
                    n_rows + (f.get("row-count") or 0),
                    n_bytes + f["size-bytes"],
                )
        rows = [(k, *v) for k, v in sorted(agg.items())]
        return spark.createDataFrame(
            rows, "partition string, file_count int, row_count long, total_bytes long"
        )

    def manifests(self, spark: SparkSession) -> DataFrame:
        """The `.manifests` metadata table: every manifest the current
        snapshot's chain walk reads — path, byte length, owning snapshot,
        operation, and added data/delete-file counts. Iceberg's manifests
        table role: the input a metadata-maintenance planner consults to
        decide when a long incremental chain is due for
        ``rewrite_manifests``. Rows are oldest-first (chain order)."""
        meta = self.ops.current()
        rows = []
        for snap in self._chain(meta, meta.get("current-snapshot-id")):
            man = self._manifest_for(meta, snap["snapshot-id"])
            rows.append(
                (
                    snap["manifest"],
                    len(self.ops.io.read_bytes(snap["manifest"])),
                    snap["snapshot-id"],
                    snap["operation"],
                    len(man.get("added-files", [])),
                    len(man.get("delete-files") or []),
                )
            )
        return spark.createDataFrame(
            rows[::-1],
            "manifest_path string, length long, snapshot_id long, "
            "operation string, added_data_files int, added_delete_files int",
        )

    def refs(self, spark: SparkSession) -> DataFrame:
        """The `.refs` metadata table: every named ref (branches and tags)
        with its pinned snapshot — Iceberg's refs table shape."""
        meta = self.ops.current()
        rows = [
            (name, "BRANCH", sid)
            for name, sid in sorted(meta.get("refs", {}).items())
            if sid is not None
        ] + [
            (name, "TAG", sid)
            for name, sid in sorted(meta.get("tags", {}).items())
        ]
        return spark.createDataFrame(
            rows, "name string, type string, snapshot_id long"
        )

    def history(self, spark: SparkSession) -> DataFrame:
        meta = self.ops.current()
        rows = [(h["timestamp-ms"], h["snapshot-id"]) for h in meta["snapshot-log"]]
        return spark.createDataFrame(rows, "timestamp_ms long, snapshot_id long")

    def files(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """The `.files` metadata table: the current (or given) snapshot's
        live data files with their manifest-recorded size, row count, and
        partition tuple — what Iceberg's files table exposes, and the
        input a maintenance planner (compaction, orphan sweep) reads."""
        import json as _json

        rows = [
            (
                f["path"],
                f["size-bytes"],
                f.get("row-count"),
                _json.dumps(f.get("partition", {}), sort_keys=True),
            )
            for f in self.scan_files(snapshot_id=snapshot_id)
        ]
        return spark.createDataFrame(
            rows, "file_path string, size_bytes long, row_count long, partition string"
        )
