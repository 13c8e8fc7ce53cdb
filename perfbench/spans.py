"""Run-time tracing for the traced run.

``install`` wraps, from outside the engine, the public methods of
``RelativeFileIO``, ``TableOperations``, ``FsCatalog`` and
``RelativeTable``, the public ``*_iceberg`` functions, and
``avro_ocf.read_ocf`` / ``write_ocf`` (plus two planning helpers whose
results carry the file counts: ``RelativeTable._prune`` and
``iceberg_export._walk_manifests``). ``iceberg_export`` reaches these
through module attributes, so rebinding the attribute catches its
internal calls too. Each call records a span (name, layer, start, end,
parent span, op id) in memory; ``uninstall`` restores the originals.

``SparkJobs`` reads the jobs and stages an op ran under its own job
group, from the status tracker and the JVM status store.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import threading
import time


class Tracer:
    def __init__(self):
        self.enabled = False
        self.op_id: int | None = None
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._originals: list[tuple] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _record(self, sid, parent, name, layer, start, end, ok, extra) -> None:
        rec = {
            "id": sid,
            "parent": parent,
            "op": self.op_id,
            "name": name,
            "layer": layer,
            "start": start,
            "end": end,
            "ok": ok,
        }
        if extra:
            rec.update(extra)
        self.spans.append(rec)

    def wrap(self, owner, attr: str, layer: str, attrs=None) -> None:
        """Rebind ``owner.attr`` (a class or module) to a span-recording
        wrapper. ``attrs(args, kwargs, result)`` adds fields to the span."""
        fn = owner.__dict__[attr]
        name = f"{layer}.{attr}"
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1] if stack else None
            stack.append(sid)
            start = time.time()
            try:
                result = fn(*args, **kwargs)
            except BaseException:
                stack.pop()
                tracer._record(sid, parent, name, layer, start, time.time(), False, None)
                raise
            end = time.time()
            stack.pop()
            extra = attrs(args, kwargs, result) if attrs is not None else None
            tracer._record(sid, parent, name, layer, start, end, True, extra)
            return result

        setattr(owner, attr, traced)
        self._originals.append((owner, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._originals):
            setattr(owner, attr, fn)
        self._originals.clear()


def _arg(args, kwargs, pos: int, key: str):
    return args[pos] if len(args) > pos else kwargs.get(key)


def _read_attrs(args, kwargs, result):
    return {"bytes": len(result), "path": str(_arg(args, kwargs, 1, "location"))}


def _write_attrs(args, kwargs, result):
    data = _arg(args, kwargs, 2, "data")
    return {"bytes": len(data), "path": str(_arg(args, kwargs, 1, "location"))}


def _prune_attrs(args, kwargs, result):
    return {"live": len(_arg(args, kwargs, 1, "entries")), "planned": len(result)}


def _walk_attrs(args, kwargs, result):
    _, eq_deletes, pos_deletes = result
    return {"delete_files": len(eq_deletes) + len(pos_deletes)}


def install(tracer: Tracer) -> None:
    from iceberg_relative_io_spark.catalog import avro_ocf, iceberg_export
    from iceberg_relative_io_spark.catalog.fileio import RelativeFileIO
    from iceberg_relative_io_spark.catalog.fs_catalog import FsCatalog
    from iceberg_relative_io_spark.catalog.spark_table import RelativeTable
    from iceberg_relative_io_spark.catalog.table_ops import TableOperations

    special = {
        ("fileio", "read_bytes"): _read_attrs,
        ("fileio", "write_bytes"): _write_attrs,
    }
    for cls, layer in (
        (RelativeFileIO, "fileio"),
        (TableOperations, "table_ops"),
        (FsCatalog, "fs_catalog"),
        (RelativeTable, "spark_table"),
    ):
        for attr, value in list(vars(cls).items()):
            if attr.startswith("_") or not inspect.isfunction(value):
                continue
            tracer.wrap(cls, attr, layer, special.get((layer, attr)))
    tracer.wrap(RelativeTable, "_prune", "spark_table", _prune_attrs)
    for attr, value in list(vars(iceberg_export).items()):
        if (
            attr.endswith("_iceberg")
            and not attr.startswith("_")
            and inspect.isfunction(value)
            and value.__module__ == iceberg_export.__name__
        ):
            tracer.wrap(iceberg_export, attr, "iceberg_export")
    tracer.wrap(iceberg_export, "_walk_manifests", "iceberg_export", _walk_attrs)
    tracer.wrap(avro_ocf, "read_ocf", "avro_ocf")
    tracer.wrap(avro_ocf, "write_ocf", "avro_ocf")


def _millis(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkJobs:
    """Jobs and stages of one job group, once the listener has seen
    every job end (it runs asynchronously to the action's return)."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()

    def collect(self, group: str, wait_s: float = 5.0) -> list[dict]:
        deadline = time.monotonic() + wait_s
        while True:
            jobs = self._read(group)
            if jobs is not None or time.monotonic() > deadline:
                return jobs or []
            time.sleep(0.02)

    def _read(self, group: str) -> list[dict] | None:
        out = []
        for jid in self.tracker.getJobIdsForGroup(group):
            job = self.store.job(jid)
            end = _millis(job.completionTime())
            if end is None:
                return None
            rec = {
                "start": _millis(job.submissionTime()),
                "end": end,
                "stages": 0,
                "tasks": 0,
                "run_ms": 0.0,
                "cpu_ms": 0.0,
                "shuffle_write": 0,
                "spill": 0,
            }
            for sid in self.tracker.getJobInfo(jid).stageIds:
                stage = self.store.lastStageAttempt(sid)
                if stage.status().toString() != "COMPLETE":
                    continue  # skipped: its output was reused
                rec["stages"] += 1
                rec["tasks"] += stage.numCompleteTasks()
                rec["run_ms"] += stage.executorRunTime()
                rec["cpu_ms"] += stage.executorCpuTime() / 1e6
                rec["shuffle_write"] += stage.shuffleWriteBytes()
                rec["spill"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
            out.append(rec)
        return out
