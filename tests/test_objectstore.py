"""Object-store commit story: pluggable delegate FS (`io_impl`, parity
with the reference's `relative.io-impl`, RelativeFileIO.java:42-56) and
the LockManager hook for stores without atomic rename (parity with
HadoopRelativeTableOperations.java:346-376 and the S3 caveat the
reference documents, README.md:123-124).

The mock filesystem here is deliberately NON-ATOMIC: `move` is
copy+delete with a rendezvous barrier, so two racing committers that
both pass the exists() check both "succeed" — the exact S3 hazard.
With a lock manager configured, the CAS check + move serialize and
exactly one committer wins, without any use of os.link.
"""

from __future__ import annotations

import io as _io
import threading

import pytest
from pyarrow import fs as pafs

from iceberg_relative_io_spark.catalog.fileio import RelativeFileIO, register_io_impl
from iceberg_relative_io_spark.catalog.locks import (
    FileLockManager,
    InMemoryLockManager,
)
from iceberg_relative_io_spark.catalog.table_ops import (
    CommitFailedError,
    TableOperations,
    new_table_metadata,
)


class NonAtomicMemFS:
    """In-memory object-store stand-in. No atomic rename-if-absent:
    move() copies then deletes, and an optional barrier makes two racers
    deterministically interleave AFTER their exists() checks."""

    def __init__(self, move_barrier: threading.Barrier | None = None):
        self.files: dict[str, bytes] = {}
        self.move_barrier = move_barrier
        self._mutex = threading.Lock()

    # --- surface RelativeFileIO uses ---
    def open_input_stream(self, path):
        return _io.BytesIO(self.files[path])

    def create_dir(self, path, recursive=True):
        pass

    class _Out(_io.BytesIO):
        def __init__(self, fs, path):
            super().__init__()
            self._fs, self._path = fs, path

        def close(self):
            self._fs.files[self._path] = self.getvalue()
            super().close()

        def __exit__(self, *exc):
            self.close()

    def open_output_stream(self, path):
        return self._Out(self, path)

    def get_file_info(self, sel):
        if isinstance(sel, pafs.FileSelector):
            base = sel.base_dir.rstrip("/") + "/"
            return [
                pafs.FileInfo(p, pafs.FileType.File, size=len(b))
                for p, b in sorted(self.files.items())
                if p.startswith(base)
            ]
        if sel in self.files:
            return pafs.FileInfo(sel, pafs.FileType.File, size=len(self.files[sel]))
        return pafs.FileInfo(sel, pafs.FileType.NotFound)

    def delete_file(self, path):
        del self.files[path]

    def delete_dir(self, path):
        base = path.rstrip("/") + "/"
        for p in [p for p in self.files if p.startswith(base)]:
            del self.files[p]

    def move(self, src, dst):
        if self.move_barrier is not None:
            try:
                self.move_barrier.wait(timeout=1.0)
            except threading.BrokenBarrierError:
                pass
        with self._mutex:
            self.files[dst] = self.files[src]
            del self.files[src]


_FS_BY_WAREHOUSE: dict[str, NonAtomicMemFS] = {}
register_io_impl("mem-test", lambda wh: _FS_BY_WAREHOUSE[wh])


def _make_io(tag: str, barrier=None, lock_impl=None) -> RelativeFileIO:
    warehouse = f"mem://{tag}/wh"
    fsio = RelativeFileIO(warehouse, io_impl="mem-test", lock_impl=lock_impl)
    _FS_BY_WAREHOUSE[fsio.warehouse] = NonAtomicMemFS(move_barrier=barrier)
    return fsio


def _race_rename(fsio: RelativeFileIO) -> list[bool]:
    """Two committers race rename(srcX -> dst); returns their outcomes."""
    fsio.write_bytes("t/srcA", b"A")
    fsio.write_bytes("t/srcB", b"B")
    results = {}
    start = threading.Barrier(2, timeout=5)

    def committer(name, src):
        start.wait()
        results[name] = fsio.rename(src, "t/dst")

    ts = [
        threading.Thread(target=committer, args=("A", "t/srcA")),
        threading.Thread(target=committer, args=("B", "t/srcB")),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=10)
    return [results["A"], results["B"]]


def test_nonatomic_fs_without_lock_double_commits():
    """The hazard itself: both racers pass exists() before either move()
    lands (the barrier forces that interleaving), so BOTH claim success —
    one committed version silently vanishes. This is why the lock hook
    exists."""
    fsio = _make_io("race-nolock", barrier=threading.Barrier(2))
    outcomes = _race_rename(fsio)
    assert outcomes == [True, True]  # both "won" — data loss on a real store


def test_lock_manager_yields_exactly_one_winner():
    """With the in-memory lock manager the same interleaving is
    impossible: check+move serialize per destination, exactly one wins,
    and the surviving bytes are the winner's."""
    for round_i in range(5):
        fsio = _make_io(f"race-lock-{round_i}", lock_impl="in-memory")
        outcomes = _race_rename(fsio)
        assert sorted(outcomes) == [False, True]
        winner = "A" if outcomes[0] else "B"
        assert fsio.read_bytes("t/dst") == winner.encode()


def test_lock_manager_commit_race_single_winner():
    """Full commit-protocol race on the non-atomic store: two
    TableOperations committers from the same base version; exactly one
    v2 lands and the surviving metadata is the winner's."""
    fsio = _make_io("commit-race", lock_impl="in-memory")
    ops = TableOperations(fsio, "ns/tbl")
    meta = new_table_metadata("ns/tbl", {"fields": [{"name": "x", "type": "long"}]})
    tmp0 = "ns/tbl/metadata/bootstrap.tmp"
    fsio.write_bytes(tmp0, b"{}")
    import json

    fsio.write_bytes("ns/tbl/metadata/v1.metadata.json", json.dumps(meta).encode())

    results = {}
    start = threading.Barrier(2, timeout=5)

    def committer(name):
        committer_ops = TableOperations(fsio, "ns/tbl")
        base = committer_ops.current_version()
        m = dict(committer_ops.current())
        m = {**m, "properties": {"winner": name}}
        start.wait()
        try:
            results[name] = committer_ops.commit(base, m)
        except CommitFailedError:
            results[name] = None

    ts = [threading.Thread(target=committer, args=(n,)) for n in ("A", "B")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=15)

    wins = [n for n, v in results.items() if v == 2]
    assert len(wins) == 1
    final = TableOperations(fsio, "ns/tbl").current()
    assert final["properties"]["winner"] == wins[0]


def test_io_impl_and_lock_impl_survive_pickle():
    import pickle

    fsio = _make_io("pickle-rt", lock_impl="in-memory")
    clone = pickle.loads(pickle.dumps(fsio))
    assert clone.io_impl == "mem-test"
    assert clone.lock_impl == "in-memory"
    assert clone.warehouse == fsio.warehouse
    # delegate resolves lazily post-unpickle via the registry
    clone.write_bytes("t/x", b"hi")
    assert clone.read_bytes("t/x") == b"hi"


def test_unknown_io_impl_raises():
    with pytest.raises(KeyError):
        RelativeFileIO("mem://nope/wh", io_impl="no-such-impl").fs


def test_file_lock_manager_mutual_exclusion(tmp_path):
    lm = FileLockManager("file:///wh", scratch=str(tmp_path / "locks"), timeout=0.3)
    assert lm.acquire("k1")
    lm2 = FileLockManager("file:///wh", scratch=str(tmp_path / "locks"), timeout=0.3)
    assert not lm2.acquire("k1")  # held elsewhere -> timeout
    assert lm2.acquire("k2")  # distinct names don't contend
    lm.release("k1")
    assert lm2.acquire("k1")


def test_in_memory_lock_blocks_until_release():
    lm = InMemoryLockManager("mem://x/wh", timeout=0.2)
    assert lm.acquire("k")
    t0 = threading.Event()

    got = {}

    def second():
        t0.set()
        got["ok"] = lm.acquire("k")

    t = threading.Thread(target=second)
    t.start()
    t0.wait()
    lm.release("k")
    t.join(timeout=5)
    assert got["ok"] is True


def test_posix_warehouse_rereads_under_file_uri_protocol(spark, tmp_path):
    """The reference's second headline (README.md:112-124): a warehouse
    written under one protocol re-reads under another with ZERO metadata
    rewrites, because every recorded path is warehouse-relative. Here:
    write via the plain posix path, reopen the same bytes as a
    ``file://`` URI — a different warehouse string resolved by the
    pyarrow ``from_uri`` delegate (the io_impl default), the runnable
    analog of posix→s3a in a container with no object store."""
    from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable

    wh = str(tmp_path / "wh_proto")
    cat = FsCatalog(wh)
    cat.create_namespace(("ns",))
    ops = cat.create_table(
        ("ns",),
        "t",
        spark.createDataFrame([(1, "a")], "id long, name string").schema.jsonValue(),
    )
    table = RelativeTable(ops)
    table.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"))

    cat2 = FsCatalog("file://" + wh)
    table2 = RelativeTable(cat2.load_table(("ns",), "t"))
    assert sorted(r.id for r in table2.read(spark).collect()) == [1, 2]
    # and the re-read is a live catalog, not a snapshot view: commit
    # THROUGH the file:// protocol, then read back through posix
    table2.append(spark.createDataFrame([(3, "c")], "id long, name string"))
    table3 = RelativeTable(FsCatalog(wh).load_table(("ns",), "t"))
    assert sorted(r.id for r in table3.read(spark).collect()) == [1, 2, 3]


# ---------------------------------------------------------------------------
# mock-S3: the reference's headline scenario end-to-end on an object store
# ---------------------------------------------------------------------------


def test_mock_s3_full_lifecycle_and_warehouse_move(spark, tmp_path):
    """The reference headline (README.md:112-124) on an s3-like store:
    create -> insert -> select under ``s3://bucket/wh`` with every
    metadata byte flowing through the mock object FS (copy+delete move,
    no append), then MOVE the warehouse (copy the bucket prefix, reopen
    under a different bucket URI) and read the same rows with zero
    metadata rewrites. Commits run under the in-memory lock manager —
    the S3 no-atomic-rename caveat the reference documents."""
    import shutil

    from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable
    from iceberg_relative_io_spark.catalog.mock_s3 import enable_mock_s3

    root = str(tmp_path / "s3root")
    impl = enable_mock_s3(root)

    cat = FsCatalog("s3://bucket-a/wh", io_impl=impl, lock_impl="in-memory")
    cat.create_namespace(("ns",))
    schema = spark.createDataFrame([(1, "a")], "id long, name string").schema
    ops = cat.create_table(("ns",), "t", schema.jsonValue())
    table = RelativeTable(ops)
    table.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"))
    table.append(spark.createDataFrame([(3, "c")], "id long, name string"))
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 2, 3]

    # metadata relativity: no absolute URI (of either protocol) may appear
    meta_bytes = b"".join(
        cat.io.read_bytes(fi.location)
        for fi in cat.io.list_prefix("ns/t/metadata")
        if fi.location.endswith(".json") or ".metadata.json" in fi.location
    )
    assert b"s3://" not in meta_bytes
    assert root.encode() not in meta_bytes

    # warehouse move = copy the bucket prefix; reopen under the new bucket
    shutil.copytree(f"{root}/bucket-a", f"{root}/bucket-b")
    cat2 = FsCatalog("s3://bucket-b/wh", io_impl=impl, lock_impl="in-memory")
    table2 = RelativeTable(cat2.load_table(("ns",), "t"))
    assert sorted(r.id for r in table2.read(spark).collect()) == [1, 2, 3]
    # the moved warehouse is live: commit through it, read back
    table2.append(spark.createDataFrame([(4, "d")], "id long, name string"))
    assert sorted(r.id for r in table2.read(spark).collect()) == [1, 2, 3, 4]
    # and the original bucket is untouched by the post-move commit
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 2, 3]


def test_mock_s3_commit_race_single_winner(tmp_path):
    """Two committers racing from the same base version on the mock
    object store (no atomic rename anywhere): the lock manager must
    yield exactly one winner, and the loser must see CommitFailedError."""
    import json

    from iceberg_relative_io_spark.catalog.mock_s3 import enable_mock_s3

    root = str(tmp_path / "s3race")
    impl = enable_mock_s3(root)
    fsio = RelativeFileIO("s3://bkt/wh", io_impl=impl, lock_impl="in-memory")
    meta = new_table_metadata("ns/tbl", {"fields": [{"name": "x", "type": "long"}]})
    fsio.write_bytes("ns/tbl/metadata/v1.metadata.json", json.dumps(meta).encode())

    results = {}
    start = threading.Barrier(2, timeout=5)

    def committer(name):
        ops = TableOperations(fsio, "ns/tbl")
        base = ops.current_version()
        m = {**dict(ops.current()), "properties": {"winner": name}}
        start.wait()
        try:
            results[name] = ops.commit(base, m)
        except CommitFailedError:
            results[name] = None

    ts = [threading.Thread(target=committer, args=(n,)) for n in ("A", "B")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=15)

    wins = [n for n, v in results.items() if v == 2]
    assert len(wins) == 1
    assert TableOperations(fsio, "ns/tbl").current()["properties"]["winner"] == wins[0]


def test_mock_s3_conditional_put_race_without_locks(tmp_path):
    """Round-4 verdict item 4: modern S3 supports PutObject with
    If-None-Match (conditional put), so the commit no longer needs the
    LockManager — RelativeFileIO.rename must prefer the delegate's
    put_if_absent and yield exactly one winner with NO lock manager
    configured. Five rounds to shake interleavings."""
    import json

    from iceberg_relative_io_spark.catalog.mock_s3 import enable_mock_s3

    for round_i in range(5):
        root = str(tmp_path / f"s3cput{round_i}")
        impl = enable_mock_s3(root)
        fsio = RelativeFileIO("s3://bkt/wh", io_impl=impl, lock_impl=None)
        assert fsio.lock_manager is None
        meta = new_table_metadata(
            "ns/tbl", {"fields": [{"name": "x", "type": "long"}]}
        )
        fsio.write_bytes(
            "ns/tbl/metadata/v1.metadata.json", json.dumps(meta).encode()
        )
        results = {}
        start = threading.Barrier(2, timeout=5)

        def committer(name, fsio=fsio, start=start, results=results):
            ops = TableOperations(fsio, "ns/tbl")
            base = ops.current_version()
            m = {**dict(ops.current()), "properties": {"winner": name}}
            start.wait()
            try:
                results[name] = ops.commit(base, m)
            except CommitFailedError:
                results[name] = None

        ts = [threading.Thread(target=committer, args=(n,)) for n in ("A", "B")]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=15)
        wins = [n for n, v in results.items() if v == 2]
        assert len(wins) == 1, results
        assert (
            TableOperations(fsio, "ns/tbl").current()["properties"]["winner"]
            == wins[0]
        )


def test_mock_s3_put_if_absent_primitive(tmp_path):
    """The CAS primitive itself: first put creates, second put on the
    same key fails precondition and leaves the first bytes intact."""
    from pyarrow import fs as pafs

    from iceberg_relative_io_spark.catalog.mock_s3 import enable_mock_s3

    root = str(tmp_path / "s3prim")
    impl = enable_mock_s3(root)
    fsio = RelativeFileIO("s3://b/wh", io_impl=impl)
    handler = fsio.fs.handler
    assert handler.put_if_absent("b/wh/k.txt", b"first") is True
    assert handler.put_if_absent("b/wh/k.txt", b"second") is False
    assert fsio.read_bytes("k.txt") == b"first"


def test_mock_s3_has_no_atomic_primitives(tmp_path):
    """The mock must actually be S3-shaped: append raises, and move is
    observably copy+delete (destination content equals source; source
    gone afterwards) rather than an atomic link."""
    from iceberg_relative_io_spark.catalog.mock_s3 import enable_mock_s3

    root = str(tmp_path / "s3sem")
    impl = enable_mock_s3(root)
    fsio = RelativeFileIO("s3://b/wh", io_impl=impl)
    fsio.write_bytes("x/src.txt", b"payload")
    with pytest.raises(NotImplementedError):
        fsio.fs.open_append_stream(fsio._fs_path("x/src.txt"))
    assert fsio.rename("x/src.txt", "x/dst.txt") is True
    assert fsio.read_bytes("x/dst.txt") == b"payload"
    assert not fsio.exists("x/src.txt")
    # rename-if-absent without a lock still refuses an existing dest
    fsio.write_bytes("x/src2.txt", b"other")
    assert fsio.rename("x/src2.txt", "x/dst.txt") is False


def test_checksum_toggles_write_verify_and_detect_corruption(tmp_path):
    """Parity with the reference's checksum enable/disable for mixed
    protocols (HadoopRelativeCatalog.java:45-48, 88-91): with
    checksum_write on, metadata writes land sha256 sidecars; verify-on
    reads pass on clean bytes, raise on corruption; verify-off is the
    documented escape hatch after an out-of-band copy; commit staging
    carries the sidecar across the rename."""
    wh = str(tmp_path / "ck_wh")
    fsio = RelativeFileIO(wh, checksum_write=True, checksum_verify=True)
    fsio.write_bytes("t/metadata/v1.metadata.json", b'{"v": 1}')
    assert fsio.exists("t/metadata/v1.metadata.json.sha256")
    assert fsio.read_bytes("t/metadata/v1.metadata.json") == b'{"v": 1}'

    # corrupt out-of-band (simulates a lossy protocol move)
    with open(f"{wh}/t/metadata/v1.metadata.json", "wb") as f:
        f.write(b'{"v": 666}')
    with pytest.raises(OSError, match="checksum mismatch"):
        fsio.read_bytes("t/metadata/v1.metadata.json")
    # the reference's toggle: verification off reads the moved bytes
    relaxed = RelativeFileIO(wh, checksum_write=True, checksum_verify=False)
    assert relaxed.read_bytes("t/metadata/v1.metadata.json") == b'{"v": 666}'

    # staging rename carries the sidecar with the winner
    fsio.write_bytes("t/metadata/stage.tmp", b"stagebytes")
    assert fsio.rename("t/metadata/stage.tmp", "t/metadata/v2.metadata.json")
    assert fsio.exists("t/metadata/v2.metadata.json.sha256")
    assert fsio.read_bytes("t/metadata/v2.metadata.json") == b"stagebytes"

    # deletes reap the sidecar too — no orphans
    fsio.delete_file("t/metadata/v2.metadata.json")
    assert not fsio.exists("t/metadata/v2.metadata.json.sha256")

    # pickling keeps the toggles (executors see the same IO contract)
    import pickle

    clone = pickle.loads(pickle.dumps(fsio))
    assert clone.checksum_write and clone.checksum_verify

    # round-4 ADVICE: an overwrite with checksum_write OFF must remove a
    # pre-existing sidecar — otherwise a later verify-on reader raises a
    # false mismatch on valid data
    fsio.write_bytes("t/plain.json", b"first")
    assert fsio.exists("t/plain.json.sha256")
    no_ck = RelativeFileIO(wh, checksum_write=False, checksum_verify=False)
    no_ck.write_bytes("t/plain.json", b"second")
    assert not fsio.exists("t/plain.json.sha256")
    assert fsio.read_bytes("t/plain.json") == b"second"  # verify-on, clean


def test_list_prefix_relativizes_on_object_store(tmp_path):
    """list_prefix must report warehouse-relative locations on object
    stores too: pyarrow hands back 'bucket/key' paths (no scheme, no
    leading slash), and the old slash-prepend + URI-relative() combo
    left them bucket-qualified — every manifest written from a listing
    then embedded the bucket, silently defeating the warehouse-move
    invariant on exactly the stores the reference targets (round-7
    review, empirically confirmed)."""
    from iceberg_relative_io_spark.catalog.mock_s3 import enable_mock_s3

    root = str(tmp_path / "s3rel")
    impl = enable_mock_s3(root)
    io = RelativeFileIO("s3://bucket/wh", io_impl=impl)
    io.write_bytes("tbl/data/f1.parquet", b"x" * 10)
    io.write_bytes("tbl/metadata/v1.metadata.json", b"{}")
    locs = sorted(fi.location for fi in io.list_prefix("tbl"))
    assert locs == [
        "tbl/data/f1.parquet",
        "tbl/metadata/v1.metadata.json",
    ]
    for loc in locs:
        assert not loc.startswith("/") and "://" not in loc and "bucket" not in loc


def test_mock_s3_manifests_record_relative_paths(spark, tmp_path):
    """End-to-end: a table written on the object store must record
    warehouse-relative data paths in its manifests — no bucket, no
    leading slash (the blind spot of the earlier 's3:// not in bytes'
    check, which scheme-less '/bucket/...' paths slipped past)."""
    import json as _json

    from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable
    from iceberg_relative_io_spark.catalog.mock_s3 import enable_mock_s3

    root = str(tmp_path / "s3mani")
    impl = enable_mock_s3(root)
    cat = FsCatalog("s3://bkt-m/wh", io_impl=impl, lock_impl="in-memory")
    cat.create_namespace(("ns",))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    ops = cat.create_table(("ns",), "t", df.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(df)
    meta = ops.current()
    man = _json.loads(
        cat.io.read_bytes(meta["snapshots"][-1]["manifest"])
    )
    paths = [f["path"] for f in man["added-files"]]
    assert paths
    for p in paths:
        assert not p.startswith("/"), p
        assert "bkt-m" not in p, p
    assert sorted(r.id for r in table.read(spark).collect()) == [1, 2]


def test_mock_s3_mor_delete_reads_through_relative_file_io(
    spark, tmp_path, monkeypatch
):
    """A native table on the object store reads right after a
    merge-on-read delete: the delete file, recorded relative, is read on
    the driver through the table's ``RelativeFileIO`` (the mock store's
    paths mean nothing to a plain ``open``) and applied as a local
    relation, so no Spark scan of it is planned. The Spark-scan tier
    (caps forced to 0) reads the same rows."""
    from pyspark.sql import functions as F

    from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable, scan
    from iceberg_relative_io_spark.catalog.mock_s3 import enable_mock_s3

    root = str(tmp_path / "s3mor")
    impl = enable_mock_s3(root)
    cat = FsCatalog("s3://bkt-d/wh", io_impl=impl, lock_impl="in-memory")
    cat.create_namespace(("ns",))
    df = spark.createDataFrame([(i, f"v{i}") for i in range(6)], "id long, v string")
    table = RelativeTable(cat.create_table(("ns",), "t", df.schema.jsonValue()))
    table.append(df)
    table.delete_where_mor(spark, F.col("id").isin(1, 4), ["id"])
    table.ops._should_refresh = True
    meta = table.ops.current()
    (delete,) = table._delete_files(meta, meta["current-snapshot-id"])
    assert not delete["path"].startswith("/") and "bkt-d" not in delete["path"]

    got = table.read(spark)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "LeftAnti" in plan
    assert plan.count("FileScan parquet") == 1
    assert sorted(r.id for r in got.collect()) == [0, 2, 3, 5]
    monkeypatch.setattr(scan, "_BROADCAST_DELETE_MAX_BYTES", 0)
    assert sorted(r.id for r in table.read(spark).collect()) == [0, 2, 3, 5]


def test_inmemory_lock_nonowner_release_is_noop_and_entries_prune():
    """release() from a non-owner thread must not free the holder's
    critical section (lock.locked() is true for ANY holder), and
    per-key entries must not accumulate forever (commit keys are
    versioned paths — one fresh key per commit)."""
    import threading

    from iceberg_relative_io_spark.catalog.locks import InMemoryLockManager

    mgr = InMemoryLockManager("wh", timeout=2.0)
    assert mgr.acquire("k1")
    released_by_other = []

    def other():
        mgr.release("k1")  # must be a no-op: not the owner
        released_by_other.append(
            InMemoryLockManager("wh", timeout=0.05).acquire("k1")
        )

    t = threading.Thread(target=other)
    t.start()
    t.join()
    assert released_by_other == [False]  # still held by the owner
    mgr.release("k1")
    assert "k1" not in InMemoryLockManager._held  # pruned when free
    assert mgr.acquire("k1") and (mgr.release("k1") or True)
    assert "k1" not in InMemoryLockManager._held


def test_file_lock_ttl_expiry_claims_safely(tmp_path):
    """A stale (crashed-holder) lock expires and is re-acquirable; a
    FRESH lock is never reaped by a waiter (the old stat-then-rmdir
    let a waiter delete a just-re-created lock — two holders at
    once)."""
    import os
    import time

    from iceberg_relative_io_spark.catalog.locks import FileLockManager

    mgr = FileLockManager("wh", scratch=str(tmp_path / "locks"),
                          timeout=1.0, ttl=0.2)
    assert mgr.acquire("k")
    path = mgr._path("k")
    # simulate a crashed holder: age the stamp past the ttl
    old = time.time() - 10
    os.utime(os.path.join(path, "owner"), (old, old))
    assert mgr.acquire("k")  # expires the stale dir, takes the lock
    # a FRESH lock must NOT be expirable
    mgr2 = FileLockManager("wh", scratch=str(tmp_path / "locks"),
                           timeout=0.3, ttl=300.0)
    assert not mgr2.acquire("k")  # held and fresh -> times out
    assert os.path.isdir(path)  # and the holder's dir survived
    mgr.release("k")
    assert mgr2.acquire("k")
