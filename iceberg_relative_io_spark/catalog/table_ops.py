"""Versioned table metadata + the atomic commit protocol.

Python re-expression of the reference's
``HadoopRelativeTableOperations`` (reference
HadoopRelativeTableOperations.java:56-416):

- metadata lives at ``<table>/metadata/v{N}.metadata.json`` (optionally
  gzip: ``v{N}.gz.metadata.json``, codec from the base document's
  ``write.metadata.compression`` property — reference :160-162,
  :244-250),
- ``metadata/version-hint.text`` points at the newest version, written
  best-effort after each commit (reference :283-300),
- the head is found from the hint, probing forward ``v{N+1}`` until a
  miss (reference :127-132); when the hint is torn, missing or names a
  version with no file, a scan of ``metadata/`` for the max ``v(\\d+)``
  replaces it (reference :302-337),
- commit = stale-base CAS check, write a temp ``{uuid}.metadata.json``,
  atomically rename to ``v{N+1}.metadata.json`` — the loser of the race
  gets CommitFailedError (reference :143-180, :346-376),
- old metadata GC after commit, bounded by
  ``write.metadata.previous-versions-max`` (reference :400-416).

One protocol serves both table formats: the native format (relative
``location``, this module's ``new_table_metadata``) and the Iceberg-v2
mirror (``iceberg_export``, absolute ``location``). ``TableOperations``
owns only the files and their versions — layout, probe, CAS, hint,
codec, GC — and reads nothing in a document beyond ``location`` (the
relocation guard), ``properties`` and ``table-uuid``; validating a
document's content (format version, metadata log) is the caller's job.

All paths *inside* native metadata documents are relative to the
warehouse; the IO layer absolutizes on open (reference's layering, see
fileio.py).
"""

from __future__ import annotations

import gzip
import json
import re
import time
import uuid

from iceberg_relative_io_spark.catalog.fileio import RelativeFileIO

_VERSION_RE = re.compile(r"^v(\d+)(\.gz)?\.metadata\.json$")
FORMAT_VERSION = "relative-spark-1"

# shared daemon pool for the deferred metadata reap (reference's async
# delete executor, HadoopRelativeTableOperations.java:400-416): commits
# submit deletes here and return without awaiting them. _GC_PENDING is
# mutated from committer threads (extend + trim) while drain swaps it
# from another — all three go through _GC_LOCK so no future is ever
# lost across a concurrent trim/swap (the commit-race tests exercise
# exactly this interleaving).
_GC_EXECUTOR = None
_GC_PENDING: list = []
# created eagerly at import: a lazily check-then-set lock could itself be
# constructed twice by two concurrent committers, defeating the exclusion
import threading as _threading  # noqa: E402

_GC_LOCK = _threading.Lock()


def _gc_lock():
    return _GC_LOCK


class _DaemonPool:
    """Minimal fire-and-forget pool with genuinely daemonic threads.
    ThreadPoolExecutor's workers are non-daemon (a hung object-store
    delete would delay interpreter exit, contradicting the documented
    best-effort semantics); this pool's workers never block shutdown."""

    def __init__(self, max_workers: int, name: str):
        import queue
        import threading

        self._q: "queue.SimpleQueue" = queue.SimpleQueue()
        for i in range(max_workers):
            threading.Thread(
                target=self._run, daemon=True, name=f"{name}-{i}"
            ).start()

    def _run(self) -> None:
        while True:
            fut, fn, args = self._q.get()
            if fut.set_running_or_notify_cancel():
                try:
                    fut.set_result(fn(*args))
                except BaseException as exc:  # noqa: BLE001 — best-effort reap
                    fut.set_exception(exc)

    def submit(self, fn, *args):
        from concurrent.futures import Future

        fut: Future = Future()
        self._q.put((fut, fn, args))
        return fut


def _gc_pool():
    global _GC_EXECUTOR
    with _GC_LOCK:  # double-pool creation would leak 8 daemon threads
        if _GC_EXECUTOR is None:
            _GC_EXECUTOR = _DaemonPool(max_workers=8, name="metadata-gc")
        return _GC_EXECUTOR


def drain_metadata_gc() -> None:
    """Block until every submitted metadata reap has finished — for
    tests and for shutdown hooks that must observe the final file set."""
    with _gc_lock():
        pending, _GC_PENDING[:] = _GC_PENDING[:], []
    for f in pending:
        try:
            f.result(timeout=30)
        except Exception:
            pass


class CommitFailedError(RuntimeError):
    """Raised for the loser of an optimistic-concurrency commit race
    (reference CommitFailedException, HadoopRelativeTableOperations.java:349)."""


class NoSuchTableError(RuntimeError):
    pass


def new_table_metadata(
    table_location: str,
    schema_json: dict,
    partition_by: list[str] | None = None,
    properties: dict | None = None,
    sort_order: list[str] | None = None,
) -> dict:
    """Fresh metadata document. ``location`` is *relative* — the
    reference's core trick (README.md:27, HadoopRelativeCatalog.java:202-210)."""
    fields = schema_json.get("fields", [])
    return {
        "format-version": FORMAT_VERSION,
        "table-uuid": str(uuid.uuid4()),
        "location": table_location,
        "last-updated-ms": int(time.time() * 1000),
        "schema": schema_json,
        # stable per-column ids (Iceberg's id-based evolution model,
        # SURVEY.md §1.3): renames move the name, never the id; dropped
        # ids are never reused, so re-adding a name can't resurrect old
        # values from pre-drop data files
        "column-ids": {f["name"]: i + 1 for i, f in enumerate(fields)},
        "last-column-id": len(fields),
        "partition-spec": list(partition_by or []),
        # bucket transform VERSIONING: new tables hash bucket(N, col) with
        # the Iceberg spec's Murmur3_x86_32 (catalog/bucket_hash.py) so
        # exports keep a prunable bucket[N] partition spec; metadata
        # WITHOUT this key predates the switch and keeps the legacy
        # xxhash64 layout — changing an existing table's hash would
        # silently misplace every already-written file
        "bucket-hash": "murmur3",
        # write clustering (reference metadata records sort-orders, README.md:59)
        "sort-order": list(sort_order or []),
        "properties": dict(properties or {}),
        "current-snapshot-id": None,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }


class TableOperations:
    """Binds a table location to the relativizing IO (reference
    HadoopRelativeCatalog.newTableOps, :196-200)."""

    def __init__(self, io: RelativeFileIO, table_location: str):
        self.io = io
        self.location = table_location.rstrip("/")  # relative to warehouse
        self._current: dict | None = None
        self._version: int | None = None
        self._should_refresh = True

    # -- layout ------------------------------------------------------------
    @property
    def metadata_dir(self) -> str:
        return f"{self.location}/metadata"

    def version_hint_file(self) -> str:
        return f"{self.metadata_dir}/version-hint.text"

    def metadata_file(self, version: int, codec: str = "none") -> str:
        ext = ".gz.metadata.json" if codec == "gzip" else ".metadata.json"
        return f"{self.metadata_dir}/v{version}{ext}"

    def data_location(self, filename: str) -> str:
        """A32 locationProvider: where new data files live."""
        return f"{self.location}/data/{filename}"

    # -- read side ----------------------------------------------------------
    def current(self) -> dict:
        if self._should_refresh or self._current is None:
            self.refresh()
        return self._current

    def current_version(self) -> int:
        self.current()
        return self._version or 0

    def refresh(self) -> dict:
        """Resolve and load the newest metadata (reference refresh(),
        :115-141)."""
        version, path = self._head()
        if path is None:
            raise NoSuchTableError(f"no metadata for table at {self.location}")
        meta = self._read_metadata(path)
        if self._current is not None and meta["table-uuid"] != self._current["table-uuid"]:
            # UUID continuity check (reference :79-85)
            raise RuntimeError("table UUID changed concurrently; refusing stale handle")
        self._current, self._version, self._should_refresh = meta, version, False
        return meta

    def find_metadata_file(self, version: int) -> str | None:
        """A30: try each codec extension (reference getMetadataFile, :242-251)."""
        for codec in ("none", "gzip"):
            path = self.metadata_file(version, codec)
            if self.io.exists(path):
                return path
        return None

    def _read_metadata(self, path: str) -> dict:
        raw = self.io.read_bytes(path)
        if path.endswith(".gz.metadata.json"):
            raw = gzip.decompress(raw)
        return json.loads(raw)

    def find_version(self) -> int:
        """A28: the head version, 0 when the table has no metadata."""
        return self._head()[0]

    def _head(self) -> tuple[int, str | None]:
        """(version, file) of the newest metadata. Start from
        version-hint.text; when the hint is torn, missing or names a
        version with no file, scan for the max ``v(\\d+)`` instead
        (reference findVersion, :302-337). Then probe forward: the hint
        is written after the commit's rename, so it can trail the head."""
        version, path = 0, None
        try:
            version = int(self.io.read_bytes(self.version_hint_file()).decode().strip())
            path = self.find_metadata_file(version)
        except Exception:
            pass
        if path is None:
            version = self._scan_max_version()
            path = self.find_metadata_file(version) if version else None
        while (nxt := self.find_metadata_file(version + 1)) is not None:
            version, path = version + 1, nxt
        return version, path

    def _scan_max_version(self) -> int:
        try:
            listing = self.io.list_prefix(self.metadata_dir)
        except Exception:
            return 0
        best = 0
        for fi in listing:
            m = _VERSION_RE.match(fi.location.rsplit("/", 1)[-1])
            if m:
                best = max(best, int(m.group(1)))
        return best

    # -- write side ----------------------------------------------------------
    def commit(self, base_version: int, metadata: dict) -> int:
        """A26: optimistic-concurrency atomic commit."""
        current_version = self.find_version()
        if current_version != base_version:
            raise CommitFailedError(
                f"base version {base_version} is stale (current {current_version})"
            )

        # the codec for v(base+1) comes from the BASE state, so two
        # racers committing from one base always target ONE filename
        # and rename-if-absent yields a single winner — deriving it
        # from the NEW doc let a commit that flips
        # write.metadata.compression race a plain committer into
        # v{N}.metadata.json AND v{N}.gz.metadata.json both "winning",
        # silently shadowing one snapshot. Net behavior: a compression
        # change takes effect on the commit AFTER the one carrying it
        # (the contract the SQL-frontend test already states).
        if base_version == 0:
            base = metadata
        elif self._version == base_version and self._current is not None:
            base = self._current
        else:
            try:
                base = self._read_metadata(self.find_metadata_file(base_version))
            except Exception:  # unreadable or already reaped
                base = metadata
        if metadata.get("location") != base.get("location"):
            # forbid relocation inside commit (reference :155-158); the
            # base's own location, so a format that stores an absolute
            # location is held to it too
            raise CommitFailedError("cannot change table location in a commit")
        codec = base.get("properties", {}).get("write.metadata.compression", "none")
        payload = json.dumps(metadata, indent=1).encode()
        if codec == "gzip":
            payload = gzip.compress(payload)

        tmp = f"{self.metadata_dir}/{uuid.uuid4()}.metadata.json.tmp"
        self.io.write_bytes(tmp, payload)
        final = self.metadata_file(base_version + 1, codec)
        if not self.io.rename(tmp, final):
            try:
                self.io.delete_file(tmp)
            except Exception:
                pass  # loser cleanup is best-effort; the race verdict
                # (CommitFailedError -> caller retries) must not be
                # masked by a transient delete failure
            raise CommitFailedError(f"lost commit race for v{base_version + 1}")

        self._write_version_hint(base_version + 1)
        self._gc_old_metadata(metadata, base_version + 1)
        self._should_refresh = True
        return base_version + 1

    def _write_version_hint(self, version: int) -> None:
        """A29: temp write + delete + rename, best effort (reference :283-300)."""
        try:
            tmp = f"{self.metadata_dir}/.version-hint.{uuid.uuid4()}.tmp"
            self.io.write_bytes(tmp, str(version).encode())
            hint = self.version_hint_file()
            if self.io.exists(hint):
                self.io.delete_file(hint)
            if not self.io.rename(tmp, hint):
                # lost the hint race (another committer recreated it
                # between our delete and rename): reap our temp file,
                # or every lost race leaves a permanent .tmp in
                # metadata/ that inflates the find_version fallback scan
                self.io.delete_file(tmp)
        except Exception:
            pass  # the hint is an optimization; findVersion recovers without it

    def _gc_old_metadata(self, metadata: dict, new_version: int) -> None:
        """Delete metadata older than previous-versions-max — on a worker
        pool, like the reference (deleteRemovedMetadataFiles + its
        Tasks/ExecutorService delete, reference :400-416): probes and
        deletes are per-file object-store round-trips, so at a high
        commit rate running them sequentially on the commit path adds
        O(keep-window) latency to every commit. The reap is submitted to
        a shared daemon pool and NOT awaited — the commit returns while
        deletes drain in the background (the reference's async delete);
        failures stay best-effort, as in the reference. Tests that need
        determinism call ``drain_metadata_gc()``."""
        props = metadata.get("properties", {})
        if props.get("write.metadata.delete-after-commit.enabled", "false") != "true":
            return
        keep = int(props.get("write.metadata.previous-versions-max", "100"))
        # 'keep N previous versions' after committing vN means
        # v(new-keep)..v(new-1) survive; the highest deletable is
        # v(new-keep-1). The old 'new - keep' cutoff deleted one extra
        # — and with keep=0 it included new_version ITSELF, letting the
        # async reaper delete the just-committed file and brick the
        # table.
        cutoff = new_version - keep - 1
        if cutoff < 1:
            return
        versions = range(max(1, cutoff - 10), cutoff + 1)

        def _reap(v: int) -> None:
            p = self.find_metadata_file(v)
            if p is not None:
                try:
                    self.io.delete_file(p)
                except Exception:
                    pass

        pool = _gc_pool()
        # submit and register under ONE lock acquisition: a concurrent
        # drain_metadata_gc between submit and extend would swap the
        # pending list while these reaps are in flight and return
        # before they land — the exact flake the drain contract forbids
        with _gc_lock():
            try:
                futures = [pool.submit(_reap, v) for v in versions]
            except RuntimeError:  # interpreter shutdown: skip, best-effort
                return
            _GC_PENDING.extend(futures)
            # bound the tracking list (done futures only help drain_metadata_gc)
            if len(_GC_PENDING) > 256:
                _GC_PENDING[:] = [f for f in _GC_PENDING if not f.done()]
