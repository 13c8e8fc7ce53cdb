"""Path relativization — the reference's single core idea.

Every path stored in table metadata is relative to the warehouse root, so
the warehouse can be moved (or re-read under a different protocol, e.g.
posix -> s3a) without rewriting any metadata. Semantics mirror the
reference exactly:

- absolutize: absolute URIs pass through unchanged; relative paths get the
  warehouse prefix (reference RelativeFileIO.java:31-36).
- relativize: strip the warehouse prefix when present, else return
  unchanged (reference RelativeFileIO.java:38-40).
- the warehouse root is normalized to trailing-slash form (reference
  RelativeFileIO.java:50, HadoopRelativeCatalog.java:85).
"""

from __future__ import annotations

from urllib.parse import urlparse

_SCHEME_MARK = "://"


def normalize_warehouse(warehouse: str) -> str:
    """Strip trailing slashes then re-append exactly one."""
    if not warehouse:
        raise ValueError("warehouse location is required and cannot be empty")
    return warehouse.rstrip("/") + "/"


def is_absolute(location: str) -> bool:
    """True for URIs with a scheme (s3a://..., file:/...) or rooted posix
    paths. Mirrors the reference's `new Path(location).isAbsolute()`."""
    if location.startswith("/"):
        return True
    parsed = urlparse(location)
    return bool(parsed.scheme) and (_SCHEME_MARK in location or location.startswith("file:"))


def absolute_location(warehouse: str, location: str) -> str:
    """Relative -> warehouse-prefixed; absolute passes through."""
    if is_absolute(location):
        return location
    return normalize_warehouse(warehouse) + location


def relative_location(warehouse: str, location: str) -> str:
    """Strip the warehouse prefix if present; else return unchanged."""
    w = normalize_warehouse(warehouse)
    if location.startswith(w):
        return location[len(w):]
    return location


def crc_sidecar(location: str) -> str:
    """The ``.<name>.crc`` file Hadoop's ChecksumFileSystem (the local
    file system Spark writes through) creates beside every file it
    writes, ``_SUCCESS`` included. Deleting a file any other way leaves
    it behind, so deleters remove it with the file."""
    head, sep, name = location.rpartition("/")
    return f"{head}{sep}.{name}.crc"


def orphan_sidecars(kept: set[str], markers: list[str]) -> list[str]:
    """The Hadoop sidecars nothing needs any more, given the files
    ``kept`` under a data prefix and the ``_``/``.``-prefixed names
    ``markers`` listed beside them (full paths, ``/``-separated): a
    ``_SUCCESS`` marker of a write with no kept file at any depth under
    its directory, then every ``.<name>.crc`` whose ``<name>`` is
    neither kept nor a surviving marker. Shared by both formats'
    orphan sweeps."""
    held: set[str] = set()
    for path in kept:
        d = path.rpartition("/")[0]
        while d and d not in held:
            held.add(d)
            d = d.rpartition("/")[0]
    doomed = [
        m for m in markers
        if m.endswith("/_SUCCESS") and m.rpartition("/")[0] not in held
    ]
    survivors = kept | (set(markers) - set(doomed))
    for m in markers:
        head, _, name = m.rpartition("/")
        if (
            name.startswith(".")
            and name.endswith(".crc")
            and f"{head}/{name[1:-4]}" not in survivors
        ):
            doomed.append(m)
    return doomed
