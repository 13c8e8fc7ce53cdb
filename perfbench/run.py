#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. One closed-loop client runs the
workload's op schedule for about ``--seconds`` (whole blocks, as many as
fit the workload's nominal block time) on seeded inputs, checks
every op against the benchmark's own table model, runs the end-of-run
checks, and prints one JSON line last: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). Exits 1 on any failed op or
check. See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import stats  # noqa: E402
from model import user_bytes  # noqa: E402
from procstat import ProcSampler, alive, descendants  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_ROUNDS = 3

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "cpu_ms_per_op": ("ms", "lower", 0.25),
    "append_cpu_ms": ("ms", "lower", 0.25),
    "read_cpu_ms": ("ms", "lower", 0.25),
    "rowdml_cpu_ms": ("ms", "lower", 0.25),
    "stored_bytes_per_user_byte": ("ratio", "lower", 0.1),
    "peak_rss_mb": ("MB", "lower", 0.1),
}

# CPU metric -> the wall-time group metric whose classes it summarises
CPU_GROUPS = {
    "append_cpu_ms": "append_p50_ms",
    "read_cpu_ms": "read_p50_ms",
    "rowdml_cpu_ms": "rowdml_p50_ms",
}

# wall-clock group metrics of the untraced ops, reported as per-layer
# metrics: on a shared host they follow the host's load (README)
WALL_GROUPS = ("append_p50_ms", "read_p50_ms", "rowdml_p50_ms", "meta_p50_ms",
               "dsv2_append_p50_ms", "dsv2_read_p50_ms", "maint_p50_ms")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(work: str):
    from iceberg_relative_io_spark.session import get_spark
    from iceberg_relative_io_spark.sources.relative_datasource import RelativeDataSource

    tmp = os.path.join(work, "tmp")
    cores = len(os.sched_getaffinity(0))
    # leave the driver's Python thread a core of its own
    local = max(1, min(3, cores - 1))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{local}]",
        shuffle_partitions=local,
        extra_conf={
            "spark.driver.memory": "1g",
            # a fixed set of JIT compiler threads (procstat.py)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms1g -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.dataSource.register(RelativeDataSource)
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then wait until the JVM and every Python worker
    it forked have exited."""
    from pyspark import SparkContext

    jvm = ProcSampler().jvm_pid()
    workers = descendants(jvm) if jvm is not None else []
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def class_medians(samples: dict[str, list[float]]) -> dict[str, float]:
    return {c: stats.median(v) for c, v in samples.items() if v}


def group_metric(meds: dict[str, float], classes) -> float:
    """Geometric mean of the medians of a group's classes."""
    vals = [meds[c] for c in classes if c in meds]
    return stats.geomean(vals) if vals else 0.0


def run(args, work: str) -> dict:
    spark = start_spark(work)
    try:
        return measure(args, work, spark)
    finally:
        stop_spark(spark)


def measure(args, work: str, spark) -> dict:
    from iceberg_relative_io_spark.caches import persisted_count
    from iceberg_relative_io_spark.catalog.table_ops import drain_metadata_gc

    sc = spark.sparkContext
    session_s = time.time() - T0
    cls_ = WORKLOADS[args.workload]
    # warm every op class on a throwaway table (JIT, class loading,
    # Python worker start-up), then build the measured table several
    # times on fresh warehouses and keep the last; setup_s takes the
    # median build
    t = time.perf_counter()
    throwaway = cls_(spark, args.seed)
    throwaway.setup(os.path.join(work, "warm"))
    errors: list[str] = throwaway.warm()
    warm_s = time.perf_counter() - t
    # the engine reaps old metadata files on a background thread; let it
    # finish before a warehouse is removed under it
    drain_metadata_gc()
    shutil.rmtree(os.path.join(work, "warm"))
    build_s = []
    for r in range(SETUP_ROUNDS):
        round_dir = os.path.join(work, f"round{r}")
        t = time.perf_counter()
        wl = cls_(spark, args.seed)
        wl.setup(round_dir)
        build_s.append(time.perf_counter() - t)
        if r < SETUP_ROUNDS - 1:
            drain_metadata_gc()
            shutil.rmtree(round_dir)
    setup_s = session_s + warm_s + stats.median(build_s)
    print(
        f"setup: session {session_s:.2f}s, warm-up {warm_s:.2f}s, builds "
        + " ".join(f"{s:.2f}s" for s in build_s)
        + f", process start to first timed op {time.time() - T0:.2f}s"
    )

    tracer = jobs = None
    if args.trace:
        from spans import SparkJobs, Tracer, install

        tracer = Tracer()
        install(tracer)
        jobs = SparkJobs(sc)
    sampler = ProcSampler()
    prev = first = sampler.sample()
    peak_rss = prev.rss_bytes
    plain = defaultdict(list)  # class -> ms, untraced ops
    plain_cpu = defaultdict(list)  # class -> CPU ms, untraced ops
    traced = defaultdict(list)  # class -> ms, traced ops
    op_records: list[dict] = []
    op_log: list[str] = []
    attempted = failed = 0
    n_op = 0
    # whole blocks keep the op mix fixed; their number follows from
    # --seconds and the workload's nominal block time, so every run of a
    # workload does the same ops whatever the host's momentary speed
    n_blocks = max(1, int(args.seconds / wl.BLOCK_S + 0.5))
    t_start = time.perf_counter()
    seen = defaultdict(int)
    for _ in range(n_blocks):
        for cls in wl.block():
            n_op += 1
            # a traced run traces every other op of each class, so every
            # class has traced and untraced ops and the tracing cost is
            # measured inside the run
            seen[cls] += 1
            tracing = tracer is not None and seen[cls] % 2 == 0
            sc.setJobGroup(f"perfbench-{n_op}", cls, False)
            if tracing:
                before = sampler.sample()
                bytes_before = wl.stored_bytes()
                tracer.op_id, tracer.enabled = n_op, True
            t = time.perf_counter()
            start = time.time()
            try:
                check = wl.run_op(cls)
                err = None
            except Exception as e:  # an op that raises is a failed op
                check, err = None, f"{type(e).__name__}: {e}"
            ms = 1000 * (time.perf_counter() - t)
            if tracer is not None:
                tracer.enabled = False
            attempted += 1
            err = err or check()
            if err:
                failed += 1
                errors.append(f"op {n_op} ({cls}): {err}"[:500])
            else:
                (traced if tracing else plain)[cls].append(ms)
            op_log.append(f"{cls}:{ms:.0f}{'*' if tracing else ''}{'!' if err else ''}")
            # CPU of driver, JVM and Python workers since the last sample,
            # which was taken right after the previous op
            after = sampler.sample()
            if not (err or tracing):
                plain_cpu[cls].append(1000 * (after.cpu_s - prev.cpu_s))
            prev = after
            peak_rss = max(peak_rss, after.rss_bytes)
            if tracing:
                op_records.append(
                    {
                        "id": n_op,
                        "cls": cls,
                        "start": start,
                        "ms": ms,
                        "ok": not err,
                        "jobs": jobs.collect(f"perfbench-{n_op}"),
                        "cpu": {
                            "driver": 1000 * (after.driver_cpu_s - before.driver_cpu_s),
                            "jvm": 1000 * (after.jvm_cpu_s - before.jvm_cpu_s),
                            "worker": 1000 * (after.worker_cpu_s - before.worker_cpu_s),
                        },
                        "dir_delta": wl.stored_bytes() - bytes_before,
                    }
                )
    drain_metadata_gc()
    wall = time.perf_counter() - t_start
    cpu_s = sampler.sample().cpu_s - first.cpu_s
    sc.setLocalProperty("spark.jobGroup.id", None)

    depth = wl.history_depth()
    stored = wl.stored_bytes()
    try:
        errors += wl.final_checks()
    except Exception as e:  # a check that cannot run has failed
        errors.append(f"end-of-run checks: {type(e).__name__}: {e}"[:500])
    correct = failed == 0 and not errors

    meds = class_medians(plain)
    completed = attempted - failed
    print(
        f"timed: {attempted} ops in {n_blocks} blocks over {wall:.1f}s, "
        f"failed {failed}, end history depth {depth} snapshots"
    )
    print("op log (ms; * traced, ! failed): " + " ".join(op_log))
    print("class medians (ms, samples): " + ", ".join(
        f"{c} {meds.get(c, 0):.1f} ({len(plain[c])})" for c in wl.classes()
    ))
    cpu_meds = class_medians(plain_cpu)
    print("class CPU medians (ms): " + ", ".join(
        f"{c} {cpu_meds.get(c, 0):.0f}" for c in wl.classes()
    ))
    p90s = {c: stats.tail_percentile(v, 90) for c, v in plain.items()}
    if plain and all(p is not None for p in p90s.values()):
        print(f"op_p90_geomean_ms {stats.geomean(p90s.values()):.3f} ms")
    else:
        print(
            "op_p90_geomean_ms not reported: needs >=10 samples beyond p90 in "
            "every class (>=100 samples); have "
            + ", ".join(f"{c} {len(v)}" for c, v in plain.items())
        )
    for e in errors[:20]:
        print(f"FAILED: {e}")

    e2e = {
        "setup_s": setup_s,
        "cpu_ms_per_op": 1000 * cpu_s / completed if completed else 0.0,
        "stored_bytes_per_user_byte": stored / user_bytes(wl.user_rows),
        "peak_rss_mb": peak_rss / 2**20,
    }
    for name, wall_name in CPU_GROUPS.items():
        e2e[name] = group_metric(cpu_meds, wl.GROUPS[wall_name])
    wall_metrics = {
        "ops_per_s": completed / wall,
        "op_p50_geomean_ms": stats.geomean(meds.values()) if meds else 0.0,
    }
    for name in WALL_GROUPS:
        wall_metrics[name] = group_metric(meds, wl.GROUPS.get(name, ()))
    for name, (unit, _, _) in END_TO_END.items():
        print(f"{name} {e2e[name]:.4f} {unit}")
    for name, value in wall_metrics.items():
        if value:  # 0 for a group the workload does not have
            print(f"{name} {value:.4f} {layers.PER_LAYER[name][0]}  (wall clock; per-layer in the traced run)")

    if tracer is None:
        metrics = {n: {"value": e2e[n], "unit": u} for n, (u, _, _) in END_TO_END.items()}
    else:
        tracer.uninstall()
        metrics = trace_report(
            args, wl, tracer, op_records, plain, traced, depth, persisted_count(), wall_metrics
        )
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def trace_report(args, wl, tracer, op_records, plain, traced, depth, persisted, wall_metrics):
    ok_ops = [o for o in op_records if o["ok"]]
    values = layers.op_scoped(ok_ops, tracer.spans)
    values["spark_table.history_depth"] = depth if args.workload == "lake_ingest" else 0
    values["caches.persisted_frames"] = persisted
    values.update(wall_metrics)
    meds = class_medians(plain)
    dsv2 = {"relative_datasource.read_ms": "dsv2_read", "relative_datasource.write_ms": "dsv2_append"}
    for name, cls in dsv2.items():
        values[name] = stats.median(traced[cls]) if traced.get(cls) else 0.0
    values["trace.overhead_ratio"] = layers.overhead_ratio(traced, plain)

    t_meds = class_medians(traced)
    print(
        "tracing overhead: traced vs untraced class medians (ms): "
        + ", ".join(
            f"{c} {t_meds[c]:.1f}/{meds[c]:.1f}" for c in wl.classes() if c in t_meds and c in meds
        )
    )
    print("per-layer, per op class:")
    header = ["metric"] + wl.classes()
    per_cls = {c: layers.op_scoped([o for o in ok_ops if o["cls"] == c], tracer.spans) for c in wl.classes()}
    print("  " + " | ".join(header))
    for name in layers.OP_SCOPED:
        print("  " + " | ".join([name] + [f"{per_cls[c][name]:.4g}" for c in wl.classes()]))
    for name, (unit, _) in layers.PER_LAYER.items():
        print(f"{name} {values[name]:.4f} {unit}")

    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.jsonl")
    with open(path, "w") as fh:
        for rec in op_records:
            fh.write(json.dumps({"kind": "op", **rec}) + "\n")
        for span in tracer.spans:
            if span["op"] is not None:
                fh.write(json.dumps({"kind": "span", **span}) + "\n")
    print(f"spans written to {os.path.relpath(path)}")
    return {n: {"value": float(values[n]), "unit": u} for n, (u, _) in layers.PER_LAYER.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "iceberg_relative_io_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout (no engine package here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every temp file of this process, the JVM and the Python workers
    # stays inside the checkout; workers import the engine from it
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
