"""Per-layer metrics of a traced run, computed from its op records and
spans (see spans.py). A span whose call raised carries no result
fields (bytes, path, file counts).

An op record is a dict with ``id``, ``cls``, ``ms`` (wall time),
``jobs`` (Spark jobs of its job group: start/end seconds, stages,
tasks, executor run and CPU ms, shuffle-write and spill bytes), ``cpu``
(driver / jvm / worker CPU ms from /proc) and ``dir_delta`` (bytes the
op added under the table directory). A span's self time is its length
minus its child spans and the Spark job intervals inside it.
"""

from __future__ import annotations

from collections import defaultdict

import stats

# name -> (unit, better); the order is the report order
PER_LAYER = {
    "fileio.calls_per_op": ("count", "lower"),
    "fileio.read_bytes_per_op": ("B", "lower"),
    "fileio.write_bytes_per_op": ("B", "lower"),
    "fileio.exists_per_op": ("count", "lower"),
    "fileio.list_per_op": ("count", "lower"),
    "fileio.self_ms_per_op": ("ms", "lower"),
    "table_ops.refresh_per_op": ("count", "lower"),
    "table_ops.refresh_ms": ("ms", "lower"),
    "table_ops.commit_ms": ("ms", "lower"),
    "table_ops.commit_attempts_per_commit": ("ratio", "lower"),
    "table_ops.metadata_bytes_per_commit": ("B", "lower"),
    "fs_catalog.load_ms": ("ms", "lower"),
    "spark_table.plan_ms": ("ms", "lower"),
    "spark_table.manifests_read_per_plan": ("count", "lower"),
    "spark_table.files_planned_per_read": ("count", "lower"),
    "spark_table.prune_keep_ratio": ("ratio", "lower"),
    "spark_table.append_driver_ms": ("ms", "lower"),
    "spark_table.history_depth": ("count", "higher"),
    "relative_datasource.read_ms": ("ms", "lower"),
    "relative_datasource.write_ms": ("ms", "lower"),
    "iceberg_export.driver_ms_per_op": ("ms", "lower"),
    "iceberg_export.delete_files_per_read": ("count", "lower"),
    "iceberg_export.bytes_written_per_op": ("B", "lower"),
    "avro_ocf.decode_calls_per_op": ("count", "lower"),
    "avro_ocf.decode_ms_per_op": ("ms", "lower"),
    "avro_ocf.encode_ms_per_op": ("ms", "lower"),
    "caches.persisted_frames": ("count", "lower"),
    "spark.jobs_per_op": ("count", "lower"),
    "spark.stages_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.job_ms_per_op": ("ms", "lower"),
    "spark.executor_run_ms_per_op": ("ms", "lower"),
    "spark.executor_cpu_ms_per_op": ("ms", "lower"),
    "spark.shuffle_write_bytes_per_op": ("B", "lower"),
    "spark.spill_bytes_per_op": ("B", "lower"),
    "proc.driver_py_cpu_ms_per_op": ("ms", "lower"),
    "proc.jvm_cpu_ms_per_op": ("ms", "lower"),
    "proc.pyworker_cpu_ms_per_op": ("ms", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "op_p50_geomean_ms": ("ms", "lower"),
    "append_p50_ms": ("ms", "lower"),
    "read_p50_ms": ("ms", "lower"),
    "rowdml_p50_ms": ("ms", "lower"),
    "meta_p50_ms": ("ms", "lower"),
    "dsv2_append_p50_ms": ("ms", "lower"),
    "dsv2_read_p50_ms": ("ms", "lower"),
    "maint_p50_ms": ("ms", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}

# metrics computed from a subset of ops (all traced ops, or one class)
OP_SCOPED = [
    n
    for n in PER_LAYER
    if n.split(".")[0] in ("fileio", "table_ops", "fs_catalog", "spark_table",
                            "iceberg_export", "avro_ocf", "spark", "proc")
    and n != "spark_table.history_depth"
]


def _med(values) -> float:
    values = list(values)
    return stats.median(values) if values else 0.0


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def op_scoped(ops: list[dict], spans: list[dict]) -> dict[str, float]:
    """The per-op layer metrics over ``ops`` (spans of other ops are
    ignored)."""
    ids = {o["id"] for o in ops}
    spans = [s for s in spans if s["op"] in ids]
    n = len(ops)
    jobs_of = {o["id"]: [(j["start"], j["end"]) for j in o["jobs"]] for o in ops}
    children = defaultdict(list)
    by_id = {}
    for s in spans:
        by_id[s["id"]] = s
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def self_ms(s) -> float:
        covered = [(c["start"], c["end"]) for c in children[s["id"]]]
        covered += jobs_of.get(s["op"], [])
        return 1000 * stats.self_time(s["start"], s["end"], covered)

    def minus_jobs_ms(s) -> float:
        return 1000 * stats.self_time(s["start"], s["end"], jobs_of.get(s["op"], []))

    def under(s, names) -> bool:
        p = s["parent"]
        while p is not None:
            ps = by_id.get(p)
            if ps is None:
                return False
            if ps["name"] in names:
                return True
            p = ps["parent"]
        return False

    def layer(name):
        return [s for s in spans if s["layer"] == name]

    def named(name):
        return [s for s in spans if s["name"] == name]

    fio = layer("fileio")
    fio_entries = [
        s for s in fio if s["parent"] is None or by_id.get(s["parent"], {}).get("layer") != "fileio"
    ]
    commits = named("table_ops.commit")
    ok_commits = [s for s in commits if s["ok"]]
    plans = named("spark_table.read") + named("spark_table.scan_files")
    plan_names = {"spark_table.read", "spark_table.scan_files"}
    manifest_reads = [
        s for s in named("fileio.read_bytes")
        if s.get("path", "").endswith(".manifest.json") and under(s, plan_names)
    ]
    prunes = [s for s in named("spark_table._prune") if s["ok"]]
    read_prunes = [s for s in prunes if under(s, {"spark_table.read"})]
    metadata_writes = [
        s for s in named("fileio.write_bytes") if under(s, {"table_ops.commit"})
    ]
    walks = [s for s in named("iceberg_export._walk_manifests") if s["ok"]]
    read_walks = [s for s in walks if under(s, {"iceberg_export.read_iceberg"})]
    jobs = [j for o in ops for j in o["jobs"]]

    return {
        "fileio.calls_per_op": _per(len(fio_entries), n),
        "fileio.read_bytes_per_op": _per(sum(s.get("bytes", 0) for s in named("fileio.read_bytes")), n),
        "fileio.write_bytes_per_op": _per(sum(s.get("bytes", 0) for s in named("fileio.write_bytes")), n),
        "fileio.exists_per_op": _per(len(named("fileio.exists")), n),
        "fileio.list_per_op": _per(len(named("fileio.list_prefix")), n),
        "fileio.self_ms_per_op": _per(sum(self_ms(s) for s in fio), n),
        "table_ops.refresh_per_op": _per(len(named("table_ops.refresh")), n),
        "table_ops.refresh_ms": _med(1000 * (s["end"] - s["start"]) for s in named("table_ops.refresh")),
        "table_ops.commit_ms": _med(1000 * (s["end"] - s["start"]) for s in ok_commits),
        "table_ops.commit_attempts_per_commit": _per(len(commits), len(ok_commits)),
        "table_ops.metadata_bytes_per_commit": _per(sum(s.get("bytes", 0) for s in metadata_writes), len(ok_commits)),
        "fs_catalog.load_ms": _med(1000 * (s["end"] - s["start"]) for s in named("fs_catalog.load_table")),
        "spark_table.plan_ms": _med(minus_jobs_ms(s) for s in plans),
        "spark_table.manifests_read_per_plan": _per(len(manifest_reads), len(plans)),
        "spark_table.files_planned_per_read": _per(sum(s["planned"] for s in read_prunes), len(read_prunes)),
        "spark_table.prune_keep_ratio": _per(sum(s["planned"] for s in prunes), sum(s["live"] for s in prunes)),
        "spark_table.append_driver_ms": _med(minus_jobs_ms(s) for s in named("spark_table.append")),
        "iceberg_export.driver_ms_per_op": _per(sum(self_ms(s) for s in layer("iceberg_export")), n),
        "iceberg_export.delete_files_per_read": _per(sum(s["delete_files"] for s in read_walks), len(read_walks)),
        "iceberg_export.bytes_written_per_op": _per(sum(o["dir_delta"] for o in ops), n),
        "avro_ocf.decode_calls_per_op": _per(len(named("avro_ocf.read_ocf")), n),
        "avro_ocf.decode_ms_per_op": _per(sum(1000 * (s["end"] - s["start"]) for s in named("avro_ocf.read_ocf")), n),
        "avro_ocf.encode_ms_per_op": _per(sum(1000 * (s["end"] - s["start"]) for s in named("avro_ocf.write_ocf")), n),
        "spark.jobs_per_op": _per(len(jobs), n),
        "spark.stages_per_op": _per(sum(j["stages"] for j in jobs), n),
        "spark.tasks_per_op": _per(sum(j["tasks"] for j in jobs), n),
        "spark.job_ms_per_op": _per(sum(1000 * (j["end"] - j["start"]) for j in jobs), n),
        "spark.executor_run_ms_per_op": _per(sum(j["run_ms"] for j in jobs), n),
        "spark.executor_cpu_ms_per_op": _per(sum(j["cpu_ms"] for j in jobs), n),
        "spark.shuffle_write_bytes_per_op": _per(sum(j["shuffle_write"] for j in jobs), n),
        "spark.spill_bytes_per_op": _per(sum(j["spill"] for j in jobs), n),
        "proc.driver_py_cpu_ms_per_op": _per(sum(o["cpu"]["driver"] for o in ops), n),
        "proc.jvm_cpu_ms_per_op": _per(sum(o["cpu"]["jvm"] for o in ops), n),
        "proc.pyworker_cpu_ms_per_op": _per(sum(o["cpu"]["worker"] for o in ops), n),
    }


def overhead_ratio(traced: dict[str, list[float]], plain: dict[str, list[float]]) -> float:
    """Geometric mean over op classes of median traced / median untraced
    wall time: the tracing cost, measured inside one run."""
    ratios = [
        stats.median(traced[c]) / stats.median(plain[c])
        for c in traced
        if traced[c] and plain.get(c)
    ]
    return stats.geomean(ratios) if ratios else 1.0
