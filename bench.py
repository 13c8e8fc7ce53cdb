#!/usr/bin/env python3
"""Benchmark: run every driver query at $SPARK_GRAFT_SF_DIR (default
sf0.1) and print ONE JSON line with total wall seconds plus per-query
times for the headline subset. The driver captures only the last 2000
characters of stdout, so the printed line carries a curated headline
breakdown while the full per-query timing map is written to
``BENCH_FULL.json`` next to this script.

Each query is forced end-to-end with the ``noop`` sink (full computation,
no result serialization cost), matching how a warehouse would measure
operator throughput.

MEASUREMENT PROTOCOL (round 10). Timing all ~220 queries in ONE JVM
session inflates the alphabetical tail 3-5x: accumulated JVM/session
state (codegen cache churn, listener/UI state, shuffle bookkeeping),
not plans — SCALING.md's round-9 protocol note reproduced 39.8x
spurious ratios only deep inside a 58-query session, and round 9's
recorded c06_pipeline_capstone was 10.4s against a 3.1s fresh-session
re-time. So the parent process splits the sorted query list into
chunks of $SPARK_GRAFT_BENCH_CHUNK (default 40) and runs EACH CHUNK IN
ITS OWN SUBPROCESS with a fresh SparkSession — short sessions, same
per-query protocol (warm-up pass at sf0.001, best-of-N at the target
sf). Within a chunk the shared featurization caches stay warm exactly
as a warehouse session would keep them; the worker releases them via
iceberg_relative_io_spark.caches.release_session_caches at chunk end
(the long-session contract — the hook exists so ANY long-lived session
can do the same).

OUTLIER RE-TIME PASS (round 11, made SYMMETRIC in round 12). The
chunked protocol removed the systematic tail aging but has no guard
against one chunk landing in a noisy window on this VM (documented
±40%+ swings; round-10's record overstated ~10 queries 2-5x vs
fresh-session re-times). After the chunked run the parent compares
every query against its previous BENCH_FULL.json record; any query
slower than $SPARK_GRAFT_BENCH_OUTLIER_RATIO (default 2.0) times its
prior record — or, since round 12, FASTER than 1 / that ratio
(lucky-fast chunks used to ratchet records downward on noise, the
round-11 verdict's item 7) — is re-timed once more in ONE extra fresh
subprocess. A slow outlier records min(chunk, re-time), so a re-time
that itself lands in a noisy window cannot inflate an honest chunk
value; a fast outlier records the RE-TIMED value, so a lucky-fast chunk
does not lower the record. A genuine regression or speedup stays
visible because the re-time reproduces it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))


def _query_names() -> list[str]:
    import __spark_entry__ as e

    return sorted(e.queries())


def _worker(names: list[str], sf_dir: str, out_path: str) -> None:
    """Time one chunk of queries in THIS process's fresh SparkSession."""
    import __spark_entry__ as e
    from iceberg_relative_io_spark.caches import release_session_caches
    from iceberg_relative_io_spark.session import get_spark

    spark = get_spark(app_name="bench")
    # JVM/codegen warmup so query 1 doesn't pay session startup
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    queries = e.queries()

    # Warm-up pass at the smallest scale factor: JIT-compiles every
    # operator's codegen'd stages, analyzer/optimizer rules, decimal
    # aggregation paths, and the Arrow/pandas-UDF workers before
    # anything is timed — standard JVM benchmarking practice. Cold-plan
    # compilation costs ~0.5-3s *per distinct plan shape* on first
    # execution and is a one-off that a long-running warehouse never
    # pays per query; without this pass the measurement is of HotSpot,
    # not of the engine.
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if warm_dir != "off" and os.path.isdir(warm_dir):
        for name in names:
            try:
                queries[name](spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:  # warm-up is best-effort, never silent
                print(f"warmup {name}: {type(exc).__name__}", file=sys.stderr)

    # Best-of-2 per query: the measurement box shows transient noise
    # spikes (map-only queries occasionally 10-30x their steady-state
    # time); the min over two executions is the standard way to report
    # the engine's cost rather than the co-tenant's.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    times: dict[str, float] = {}
    for name in names:
        fn = queries[name]
        best = None
        for _ in range(max(1, reps)):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
        times[name] = round(best, 3)

    # the long-session hygiene contract (see module docstring)
    release_session_caches(spark)
    Path(out_path).write_text(json.dumps(times))


def _mktemp(suffix: str) -> str:
    """A created-and-closed temp path (mkstemp, not the race-prone mktemp)."""
    import tempfile

    fd, path = tempfile.mkstemp(suffix=suffix)
    os.close(fd)
    return path


def _run_chunk(part: list[str], label: str) -> dict[str, float] | None:
    """Run one list of queries in a fresh subprocess; None on failure.

    Fresh subprocess == fresh JVM + fresh SparkSession: the chunk's
    recorded times can't inherit another chunk's session aging (worker
    stdout -> our stderr so the ONE parseable stdout line stays the
    only stdout).
    """
    out = _mktemp(".bench.json")
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), "--worker", out] + part,
        stdout=sys.stderr,
        env=os.environ,
    )
    if proc.returncode != 0:
        print(f"bench worker {label} failed rc={proc.returncode}", file=sys.stderr)
        os.unlink(out)
        return None
    got = json.loads(Path(out).read_text())
    os.unlink(out)
    return got


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None

    if len(sys.argv) >= 3 and sys.argv[1] == "--worker":
        _worker(sys.argv[3:], sf_dir, sys.argv[2])
        return

    names = _query_names()
    # local-iteration escape hatch: time only a comma-separated subset
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    if only:
        keep = {n.strip() for n in only.split(",") if n.strip()}
        names = [n for n in names if n in keep]
    chunk = int(os.environ.get("SPARK_GRAFT_BENCH_CHUNK", "40"))
    times: dict[str, float] = {}
    if chunk <= 0:  # escape hatch: old single-session behavior
        out = _mktemp(".json")
        _worker(names, sf_dir, out)
        times = json.loads(Path(out).read_text())
        os.unlink(out)
    else:
        for i in range(0, len(names), chunk):
            part = names[i : i + chunk]
            got = _run_chunk(part, f"chunk {i}")
            if got is not None:
                times.update(got)

        # Symmetric outlier re-time pass (see module docstring): one
        # extra fresh subprocess for every query that came back >RATIO x
        # its prior BENCH_FULL record OR <1/RATIO x it. A slow outlier
        # keeps min(chunk, re-time): one noisy re-time must not inflate
        # an honest chunk value. A fast outlier takes the re-timed
        # value, so a lucky-fast chunk does not enter the record.
        ratio = float(os.environ.get("SPARK_GRAFT_BENCH_OUTLIER_RATIO", "2.0"))
        prev_path = REPO / "BENCH_FULL.json"
        prev: dict[str, float] = {}
        if ratio > 0 and prev_path.is_file():
            try:
                prev = json.loads(prev_path.read_text()).get("queries", {})
            except Exception:
                prev = {}
        outliers = sorted(
            n
            for n, t in times.items()
            if n in prev
            and prev[n] > 0
            and (t > ratio * prev[n] or t < prev[n] / ratio)
        )
        if outliers:
            print(f"re-timing {len(outliers)} outliers: {outliers}", file=sys.stderr)
            got = _run_chunk(outliers, "outlier re-time")
            for n, t in (got or {}).items():
                if times[n] > ratio * prev[n]:
                    t = min(times[n], t)
                if t != times[n]:
                    print(
                        f"outlier {n}: {times[n]} -> {t} (prev {prev[n]})",
                        file=sys.stderr,
                    )
                    times[n] = t

    missing = sorted(set(names) - set(times))
    total = round(sum(times.values()), 3)
    # a filtered run must never clobber the full record
    full_path = REPO / ("BENCH_ONLY.json" if only else "BENCH_FULL.json")
    full_path.write_text(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "n_queries": len(times),
                "missing": missing,
                "queries": times,
                "sf": sf,
            },
            indent=1,
            sort_keys=True,
        )
        + "\n"
    )
    if missing:
        # a failed worker chunk must not silently shrink the headline
        # total: surface the gap as a hard failure after recording what
        # did run (the driver sees both the rc and the 'missing' list)
        print(f"bench INCOMPLETE, missing {len(missing)}: {missing}", file=sys.stderr)

    # Headline subset for the printed line: the driver keeps only the last
    # 2000 chars of stdout, so the line must stay well under that.
    headline = [
        "a26_compaction", "a_merge_upsert", "b01_scan_count",
        "b04_sql_frontend", "b06_filter", "b10_star_broadcast",
        "b12_asof_join", "b13_agg_pricing_summary", "b16_rollup",
        "b17_window_rank", "b21_topk", "b28_time_travel",
        "b30_stream_tumbling_window", "c01_exact_dedup",
        "c02_dedup_survivors", "c02_lsh_candidate_pairs",
        "c03_knn_bruteforce", "c03_ann_ivf", "c04_langid",
        "c04_token_count", "c06_pipeline_capstone",
        # round-4 flagships
        "b04_sql_views", "c05_video_neardup", "c03_outlier_filter",
        "c05_audio_vad",
        # round-6 mirror lifecycle flagships
        "a41_iceberg_export", "a48_iceberg_merge", "a52_stats_pruned_read",
        # round-9 flagships (two-level quantizer + new pipeline ops)
        "c03_knn_graph", "c03_diversity_cap", "c04_boilerplate_removal",
        # round-10 flagships (BPE trainer rounds + graph-ANN serving)
        "c04_bpe_pair_merges", "c04_bpe_encode", "c03_ann_graph_beam",
    ]

    def render(keys: list[str]) -> str:
        return json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": {k: times[k] for k in keys if k in times},
                "n_queries": len(times),
                "full": "BENCH_FULL.json",
                "sf": sf,
            },
            separators=(",", ":"),
        )

    # the driver parses only the last 2000 chars of stdout: shrink the
    # headline map until the line fits instead of aborting the whole run
    # (the full timing map is always in BENCH_FULL.json regardless)
    line = render(headline)
    while len(line) >= 1500 and headline:
        headline = headline[:-1]
        line = render(headline)
    print(line, flush=True)
    if missing:
        sys.exit(1)


if __name__ == "__main__":
    main()
