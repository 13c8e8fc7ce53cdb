"""RelativeFileIO — a path-relativizing file IO over a delegate filesystem.

Python analogue of the reference's ``RelativeFileIO`` (reference
RelativeFileIO.java:24-119): every operation takes a *relative* (or
absolute) location, absolutizes it against the warehouse on the way to
storage, and reports *relative* locations on the way back, so anything
recorded from the IO layer (metadata, manifests) stays warehouse-movable.

The delegate is ``pyarrow.fs`` — the Python counterpart of the reference's
delegating ``ResolvingFileIO`` (RelativeFileIO.java:21-22, default
``io-impl``): ``FileSystem.from_uri`` resolves the scheme (posix, s3://,
hdfs://) to a concrete filesystem, so the same warehouse layout works
across protocols — the reference's headline scenario (reference
README.md:112-121).

Like the reference object (which must survive serialization to executors,
RelativeFileIO.java:106-119), this class is a picklable plain-data object:
state is the warehouse string only; the delegate FS is resolved lazily.
"""

from __future__ import annotations

import io as _io
from dataclasses import dataclass, field

from iceberg_relative_io_spark.catalog.paths import (
    absolute_location,
    crc_sidecar,
    normalize_warehouse,
    relative_location,
)


@dataclass
class FileInfo:
    """Relative-location file descriptor (reference FileInfo in listPrefix,
    RelativeFileIO.java:83-87)."""

    location: str
    size: int


_IO_IMPLS: dict[str, object] = {}


def register_io_impl(name: str, factory) -> None:
    """Register a delegate-FS factory: ``factory(warehouse) -> fs``. The
    Python counterpart of the reference's ``relative.io-impl`` property
    (reference RelativeFileIO.java:42-56): the relativizing layer wraps
    ANY delegate IO, selected by name so the choice serializes with the
    plain-data conf instead of a live filesystem object."""
    _IO_IMPLS[name] = factory


def _pyarrow_impl(warehouse: str):
    """Default delegate — ``pyarrow.fs`` scheme resolution (posix, s3://,
    hdfs://, gs://), the counterpart of the reference's ResolvingFileIO
    default (RelativeFileIO.java:21-22)."""
    from pyarrow import fs as pafs

    fs, _root = pafs.FileSystem.from_uri(warehouse.rstrip("/"))
    return fs


register_io_impl("pyarrow", _pyarrow_impl)


# -- JVM-plane path translation ---------------------------------------------
#
# The reference leans on Hadoop resolving the SAME URI on both planes
# (metadata IO and the Spark scan, HadoopRelativeCatalog.java README
# scenario). In Python the two planes resolve schemes independently:
# pyarrow handles the metadata/manifest IO, the Spark JVM handles the
# data scan. For schemes the JVM cannot resolve (a registered test/mock
# object store), the io-impl registers a translator mapping the absolute
# URI to a JVM-readable one; the default (None) passes URIs through
# untouched, which is correct for posix, file://, hdfs://, s3a://-with-
# connector — every production scheme.

_SPARK_PATH_TRANSLATORS: dict[str, object] = {}


def register_spark_path_translator(io_impl: str, fn) -> None:
    """Register ``fn(absolute_uri) -> jvm_readable_uri`` for an io-impl."""
    _SPARK_PATH_TRANSLATORS[io_impl] = fn


@dataclass
class RelativeFileIO:
    warehouse: str
    io_impl: str = "pyarrow"  # parity: relative.io-impl (RelativeFileIO.java:42-56)
    lock_impl: str | None = None  # LockManager hook for non-atomic-rename stores
    # checksum toggles — the Python analogue of the reference's checksum
    # enable/disable for mixed-protocol warehouses (reference
    # HadoopRelativeCatalog.java:45-48, 88-91; README.md:123-124): Hadoop's
    # ChecksumFileSystem writes .crc sidecars that go stale when a
    # warehouse moves protocols out-of-band, so the reference exposes
    # write/verify switches. Here: sha256 sidecars next to metadata files.
    # Sidecar paths are RELATIVE like everything else, so an in-band
    # warehouse move keeps them valid; verify is the toggle to drop when
    # an out-of-band copy may have rewritten bytes (the reference's case).
    checksum_write: bool = False
    checksum_verify: bool = False
    _fs: object = field(default=None, repr=False, compare=False)
    _lock: object = field(default=None, repr=False, compare=False)

    def __post_init__(self):
        self.warehouse = normalize_warehouse(self.warehouse)

    # -- delegate resolution (lazy so the object pickles cleanly) ---------
    @property
    def fs(self):
        if self._fs is None:
            if self.io_impl not in _IO_IMPLS:
                raise KeyError(
                    f"unknown io-impl {self.io_impl!r}; registered: {sorted(_IO_IMPLS)}"
                )
            self._fs = _IO_IMPLS[self.io_impl](self.warehouse)
        return self._fs

    @property
    def lock_manager(self):
        if self.lock_impl is None:
            return None
        if self._lock is None:
            from iceberg_relative_io_spark.catalog.locks import resolve_lock_impl

            self._lock = resolve_lock_impl(self.lock_impl, self.warehouse)
        return self._lock

    def _fs_path(self, location: str) -> str:
        """Absolute location -> delegate-FS-native path (strips scheme)."""
        absolute = self.absolute(location)
        from pyarrow import fs as pafs  # noqa: F401  (ensures lazy init ran)

        _ = self.fs
        if "://" in absolute:
            absolute = absolute.split("://", 1)[1]
            # object stores keep bucket in path; local fs path is already bare
        elif absolute.startswith("file:"):
            # Hadoop's single-slash rendering ('file:/tmp/x') — treated
            # as absolute by paths.is_absolute, so it must strip here
            # too or the local delegate gets a literal 'file:/...' path
            absolute = "/" + absolute[len("file:"):].lstrip("/")
        return absolute

    # -- path discipline (A2/A3) -----------------------------------------
    def absolute(self, location: str) -> str:
        return absolute_location(self.warehouse, location)

    def relative(self, location: str) -> str:
        return relative_location(self.warehouse, location)

    def spark_path(self, location: str) -> str:
        """Absolute URI as the Spark JVM should read/write it. Identity
        unless the io-impl registered a translator (mock object stores)."""
        absolute = self.absolute(location)
        fn = _SPARK_PATH_TRANSLATORS.get(self.io_impl)
        return fn(absolute) if fn is not None else absolute

    # -- IO surface (A4-A9) ------------------------------------------------
    def new_input(self, location: str):
        """Open for read at the absolute path; caller keeps the relative
        name (reference RelativeInputFile location() contract)."""
        return self.fs.open_input_stream(self._fs_path(location))

    def read_bytes(self, location: str) -> bytes:
        with self.new_input(location) as f:
            data = f.read()
        if self.checksum_verify and not location.endswith(".sha256"):
            import hashlib

            sidecar = location + ".sha256"
            if self.exists(sidecar):
                with self.new_input(sidecar) as f:
                    want = f.read().decode("ascii").strip()
                got = hashlib.sha256(data).hexdigest()
                if got != want:
                    raise OSError(
                        f"checksum mismatch for {location}: expected {want}, "
                        f"got {got} (disable checksum_verify after an "
                        "out-of-band warehouse copy — reference "
                        "HadoopRelativeCatalog.java:45-48 semantics)"
                    )
        return data

    def new_output(self, location: str):
        """Create (overwrite) at the absolute path."""
        path = self._fs_path(location)
        parent = path.rsplit("/", 1)[0]
        self.fs.create_dir(parent, recursive=True)
        return self.fs.open_output_stream(path)

    def write_bytes(self, location: str, data: bytes) -> None:
        with self.new_output(location) as f:
            f.write(data)
        if self.checksum_write:
            import hashlib

            with self.new_output(location + ".sha256") as f:
                f.write(hashlib.sha256(data).hexdigest().encode("ascii"))
        else:
            # an overwrite with checksums off must not leave a STALE
            # sidecar from an earlier checksummed write — a later
            # checksum_verify=True reader would raise a false mismatch
            # on valid data (round-4 ADVICE)
            try:
                self.fs.delete_file(self._fs_path(location + ".sha256"))
            except Exception:
                pass

    def parquet_table(self, location: str, columns=None):
        """Read a parquet file THROUGH the delegate FS (stats/bloom
        harvesting and driver-side delete reads must work on any
        registered store, not just schemes pyarrow's default resolver
        knows). INT96 timestamps, which Spark writes by default, read at
        Spark's microsecond unit, so values past 2262 do not overflow."""
        import pyarrow.parquet as pq

        return pq.read_table(
            self._fs_path(location),
            columns=columns,
            filesystem=self.fs,
            coerce_int96_timestamp_unit="us",
        )

    def parquet_metadata(self, location: str):
        """Parquet footer metadata through the delegate FS (random-access
        open — footers are read by seeking, not streaming)."""
        import pyarrow.parquet as pq

        with self.fs.open_input_file(self._fs_path(location)) as f:
            return pq.ParquetFile(f).metadata

    def exists(self, location: str) -> bool:
        from pyarrow import fs as pafs

        return self.fs.get_file_info(self._fs_path(location)).type != pafs.FileType.NotFound

    def delete_file(self, location: str) -> None:
        self.fs.delete_file(self._fs_path(location))
        if self.checksum_write and not location.endswith(".sha256"):
            sidecar = location + ".sha256"
            if self.exists(sidecar):  # best-effort: no orphaned sidecars
                self.fs.delete_file(self._fs_path(sidecar))

    def delete_spark_file(self, location: str) -> None:
        """Delete a file Spark wrote, with the Hadoop ``.crc`` sidecar
        beside it when there is one (``paths.crc_sidecar``)."""
        self.delete_file(location)
        try:
            self.fs.delete_file(self._fs_path(crc_sidecar(location)))
        except OSError:
            pass  # no sidecar: an object store, or a non-Hadoop writer

    def delete_files(self, locations) -> None:
        for loc in locations:
            self.delete_file(loc)

    def delete_prefix(self, prefix: str) -> None:
        self.fs.delete_dir(self._fs_path(prefix))

    def delete_empty_dirs(self, prefix: str) -> None:
        """Remove the empty directories under ``prefix``, deepest first,
        so a parent whose only children were empty directories goes in
        the same pass. Only a local delegate has directories to remove:
        an object store's "directory" is a key prefix that vanishes with
        its last key. A directory that gains a file after the listing is
        kept, because ``rmdir`` refuses a non-empty directory."""
        import os

        from pyarrow import fs as pafs

        if not isinstance(self.fs, pafs.LocalFileSystem):
            return
        sel = pafs.FileSelector(
            self._fs_path(prefix), recursive=True, allow_not_found=True
        )
        dirs = [
            info.path for info in self.fs.get_file_info(sel)
            if info.type == pafs.FileType.Directory
        ]
        for d in sorted(dirs, key=lambda p: -p.count("/")):
            try:
                os.rmdir(d)
            except OSError:
                pass  # not empty

    def list_prefix(self, prefix: str) -> list[FileInfo]:
        """List files under a prefix, reporting *relative* locations
        (reference RelativeFileIO.java:83-87).

        Relativization strips the DELEGATE-NATIVE warehouse root
        (``_fs_path("")``), because ``info.path`` comes back in the
        delegate's own dialect: ``/abs/posix`` locally but
        ``bucket/key`` (no scheme, no leading slash) on object stores.
        The previous prepend-a-slash + URI-relative() combination was a
        no-op for object stores — listings leaked bucket-qualified
        absolute paths into manifests, which silently defeats the
        warehouse-move invariant on exactly the stores the reference
        targets."""
        from pyarrow import fs as pafs

        base = self._fs_path("")  # delegate-native warehouse root + '/'
        sel = pafs.FileSelector(self._fs_path(prefix), recursive=True, allow_not_found=True)
        out = []
        for info in self.fs.get_file_info(sel):
            if info.type == pafs.FileType.File:
                loc = info.path
                if loc.startswith(base):
                    rel = loc[len(base):]
                elif ("/" + loc).startswith(base):
                    rel = ("/" + loc)[len(base):]
                else:
                    # foreign path (shouldn't happen under a warehouse
                    # listing): keep the old behavior, absolute
                    if not loc.startswith("/") and "://" not in loc:
                        loc = "/" + loc
                    rel = self.relative(loc)
                out.append(FileInfo(location=rel, size=info.size))
        return out

    def rename(self, src: str, dst: str) -> bool:
        """rename-if-absent plus checksum-sidecar carry: the winner's
        sidecar (when checksum_write is on) follows the main file so
        verification keeps working across commit staging."""
        won = self._rename_if_absent(src, dst)
        if won and self.checksum_write and not src.endswith(".sha256"):
            sidecar = src + ".sha256"
            if self.exists(sidecar):
                try:
                    self.fs.move(
                        self._fs_path(sidecar), self._fs_path(dst + ".sha256")
                    )
                except OSError:
                    pass  # best-effort: a missing sidecar only skips verify
        return won

    def _rename_if_absent(self, src: str, dst: str) -> bool:
        """Atomic rename-if-absent; the commit protocol's linchpin
        (reference HadoopRelativeTableOperations.java:346-376). Returns
        False for the loser of a commit race.

        On posix this is hard-link + unlink: ``link(2)`` fails atomically
        when dst exists, closing the TOCTOU window a check-then-rename
        would leave (plain ``rename(2)`` silently overwrites). On object
        stores without atomic rename, set ``lock_impl``: the CAS check +
        move then runs under a named lock on the destination (the
        reference's LockManager hook for exactly this S3 caveat,
        README.md:123-124) so two racing committers always produce one
        winner. With neither posix nor a lock, the bare exists+move
        fallback carries the documented race.
        """
        import os

        from pyarrow import fs as pafs

        src_p, dst_p = self._fs_path(src), self._fs_path(dst)
        # conditional put beats locking when the store offers it: one
        # atomic CAS on the destination key (S3 If-None-Match, GA since
        # late 2024) instead of acquire/check/move/release — fewer round
        # trips, no lock service to operate, no stale-lock failure mode.
        # The reference's LockManager hook predates conditional writes
        # on S3; a delegate advertising put_if_absent doesn't need it.
        handler = getattr(self.fs, "handler", None)
        put = getattr(handler, "put_if_absent", None)
        if put is not None:
            data = self.read_bytes(src)
            if not put(self._fs_path(dst), bytes(data)):
                return False
            # the CAS already landed: src cleanup is best-effort only. A
            # failure here must NOT surface — the commit SUCCEEDED, and
            # propagating would make the retry loop re-commit against a
            # destination that exists (misreported as CommitFailedError).
            # A stale temp file is the reference's best-effort semantics.
            try:
                self.fs.delete_file(src_p)
            except Exception:
                pass
            return True
        lock = self.lock_manager
        if lock is not None:
            key = self.absolute(dst)
            if not lock.acquire(key):
                return False
            try:
                if self.exists(dst):
                    return False
                self.fs.move(src_p, dst_p)
                return True
            except OSError:
                return False
            finally:
                lock.release(key)
        if isinstance(self.fs, pafs.LocalFileSystem):
            try:
                os.link(src_p, dst_p)
            except FileExistsError:
                return False
            except OSError:
                return False
            os.unlink(src_p)
            return True
        if self.exists(dst):
            return False
        try:
            self.fs.move(src_p, dst_p)
            return True
        except OSError:
            return False

    # -- pickling ----------------------------------------------------------
    def __getstate__(self):
        return {
            "warehouse": self.warehouse,
            "io_impl": self.io_impl,
            "lock_impl": self.lock_impl,
            "checksum_write": self.checksum_write,
            "checksum_verify": self.checksum_verify,
        }

    def __setstate__(self, state):
        self.warehouse = state["warehouse"]
        self.io_impl = state.get("io_impl", "pyarrow")
        self.lock_impl = state.get("lock_impl")
        self.checksum_write = state.get("checksum_write", False)
        self.checksum_verify = state.get("checksum_verify", False)
        self._fs = None
        self._lock = None
