#!/usr/bin/env python3
"""Randomized fuzz of the Iceberg position-delete path (round 6).

Per seed: build a random multi-file table (random row count, random
file split, optional partition column and MOR equality-delete state),
export it as Iceberg v2, then apply 1-3 rounds of random position
deletes via ``write_position_deletes`` — random positions per data
file, random scheme prefixing of the recorded file_path, occasional
re-deletion of an already-deleted position (spec: idempotent) — with
random ``append_iceberg`` commits interleaved (round 6: appended files
take a newer sequence, so the pre-export equality delete must skip
them while later position-delete rounds may target them), and after
every step compare ``read_iceberg`` against a Python mirror that
tracks (file, pos) -> row directly from the parquet files. Later
rounds also interleave mirror-side equality deletes
(``delete_where_iceberg``), atomic MOR updates
(``update_where_iceberg`` — same-sequence delete + replacement files),
atomic MERGE upserts (``merge_iceberg`` — matched updates + fresh
inserts in one snapshot), mirror-DML position deletes
(``delete_positions_iceberg`` — predicate over the live read, tuples
computed distributed; round 7), dynamic partition overwrites
(``overwrite_partitions_iceberg`` — partition-scoped on the grp-
partitioned seeds, full INSERT OVERWRITE on the rest), metadata-only
manifest rewrites, snapshot expiry, and full compaction (mirror
rebuilt from the rewritten files).

This mechanically covers what the hand-written tests sample: many data
files per delete round, deletes split across several delete files,
interleaving with pre-existing equality deletes, and duplicate
positions.

Usage: python tools/fuzz_posdel.py [n_seeds]
Exit code 0 = every round of every seed matched.
"""

from __future__ import annotations

import random
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SCHEMA = "id long, grp int, val double"


def run_seed(spark, seed: int) -> list[str]:
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from iceberg_relative_io_spark.catalog import (
        FsCatalog,
        RelativeTable,
        avro_ocf,
        iceberg_export,
    )

    rng = random.Random(1000 + seed)
    n_rows = rng.randint(20, 400)
    n_files = rng.randint(1, 5)
    rows = [
        (i, rng.randint(0, 3), round(rng.uniform(-10, 10), 4))
        for i in range(n_rows)
    ]

    cat = FsCatalog(tempfile.mkdtemp(prefix=f"fuzz_pd_{seed}_"))
    cat.create_namespace(("fz",))
    # every third seed exports a grp-partitioned spec, so the delete /
    # overwrite rounds also exercise partition-pure files and the
    # partition-scoped dynamic overwrite
    partitioned = seed % 3 == 0
    ops = cat.create_table(
        ("fz",),
        "t",
        spark.createDataFrame([], SCHEMA).schema.jsonValue(),
        partition_by=["grp"] if partitioned else None,
    )
    table = RelativeTable(ops)
    table.append(spark.createDataFrame(rows, SCHEMA).repartition(n_files))
    # half the seeds add live MOR equality-delete state before export so
    # position deletes interleave with content=2 manifests
    eq_deleted: set[int] = set()
    if seed % 2 == 1:
        doomed_grp = rng.randint(0, 3)
        table.delete_where_mor(spark, F.col("grp") == doomed_grp, ["grp"])
        eq_deleted = {i for i, g, _ in rows if g == doomed_grp}

    dest = tempfile.mkdtemp(prefix=f"fuzz_pd_out_{seed}_")
    iceberg_export.export_iceberg(table, dest)

    def data_paths() -> list[str]:
        # data-file paths from the manifests, in manifest order
        doc = iceberg_export._load_metadata(dest)
        snap = next(
            s for s in doc["snapshots"]
            if s["snapshot-id"] == doc["current-snapshot-id"]
        )
        with open(snap["manifest-list"], "rb") as fh:
            _, _, mls = avro_ocf.read_ocf(fh.read())
        out = []
        for mf in mls:
            if mf["content"] != 0:
                continue
            with open(mf["manifest_path"], "rb") as fh:
                _, _, entries = avro_ocf.read_ocf(fh.read())
            out += [
                e["data_file"]["file_path"]
                for e in entries
                if e["status"] != 2  # overwrite leaves DELETED entries live
            ]
        return out

    def file_tuples(p: str) -> list[tuple]:
        """Rows of one data file as (id, grp, val). Identity-partitioned
        layouts drop the partition column from the parquet payload (the
        spec reader fills it back from the partition tuple), so recover
        grp from the hive directory when absent."""
        t = pq.read_table(p)
        ids = t["id"].to_pylist()
        vals = t["val"].to_pylist()
        if "grp" in t.column_names:
            grps = t["grp"].to_pylist()
        else:
            import re as _re

            grps = [int(_re.search(r"grp=(-?\d+)", p).group(1))] * len(ids)
        return list(zip(ids, grps, vals))

    paths = data_paths()

    # python mirror: (file, pos) -> row, read straight from parquet
    mirror: dict[tuple[str, int], tuple] = {}
    for p in paths:
        for pos, (i, g, v) in enumerate(file_tuples(p)):
            if i not in eq_deleted:
                mirror[(p, pos)] = (i, g, round(v, 4))
    file_rows = {p: pq.read_metadata(p).num_rows for p in paths}

    def spark_rows():
        return sorted(
            (r.id, r.grp, round(r.val, 4))
            for r in iceberg_export.read_iceberg(spark, dest).collect()
        )

    failures: list[str] = []
    if spark_rows() != sorted(mirror.values()):
        failures.append(f"seed {seed}: pre-delete mismatch")

    # round-7 changelog invariant state: the snapshot + mirror values at
    # the top of each round, diffed against the head at round end
    prev_sid = iceberg_export._load_metadata(dest)["current-snapshot-id"]
    prev_values = list(mirror.values())

    already: list[tuple[str, int]] = []
    next_id = n_rows
    for rnd in range(rng.randint(1, 3)):
        # interleave incremental appends (append_iceberg commits) with
        # the delete rounds: appended files carry a NEWER sequence, so
        # the pre-export equality delete must NOT touch them (the mirror
        # adds their rows unconditionally, eq_deleted groups included),
        # while later position-delete rounds may target them freely.
        # A partitioned mirror append writes one file per grp value, so
        # on those seeds a round appends 2-3 times: the position-delete
        # round then still spans several files of one partition
        if rng.random() < 0.5:
            for _ in range(rng.randint(2, 3) if partitioned else 1):
                k = rng.randint(1, 40)
                new_rows = [
                    (next_id + j, rng.randint(0, 3), round(rng.uniform(-10, 10), 4))
                    for j in range(k)
                ]
                next_id += k
                iceberg_export.append_iceberg(
                    spark,
                    dest,
                    spark.createDataFrame(new_rows, SCHEMA).repartition(
                        rng.randint(1, 3)
                    ),
                )
                fresh = data_paths()
                for p in fresh:
                    if p in file_rows:
                        continue
                    for pos, (i, g, v) in enumerate(file_tuples(p)):
                        mirror[(p, pos)] = (i, g, round(v, 4))
                    file_rows[p] = pq.read_metadata(p).num_rows
                paths = fresh
                if spark_rows() != sorted(mirror.values()):
                    failures.append(
                        f"seed {seed} round {rnd}: post-append mismatch"
                    )
        deletes: dict[str, list[int]] = {}
        for p in rng.sample(paths, rng.randint(1, len(paths))):
            k = rng.randint(1, max(1, file_rows[p] // 3))
            poss = rng.sample(range(file_rows[p]), min(k, file_rows[p]))
            # occasionally re-delete an already-deleted position
            if already and rng.random() < 0.5:
                rp, rpos = rng.choice(already)
                if rp == p and rpos not in poss:
                    poss.append(rpos)
            key = "file://" + p if rng.random() < 0.3 else p
            deletes[key] = poss
            for pos in poss:
                mirror.pop((p, pos), None)
                already.append((p, pos))
        iceberg_export.write_position_deletes(dest, deletes)
        got, want = spark_rows(), sorted(mirror.values())
        if got != want:
            failures.append(
                f"seed {seed} round {rnd}: {len(got)} rows vs mirror "
                f"{len(want)}"
            )
        # occasionally merge the manifests (metadata-only replace): data
        # entries keep their sequences, delete manifests carry through —
        # reads must be identical before and after
        if rng.random() < 0.4:
            iceberg_export.rewrite_manifests_iceberg(dest)
            if spark_rows() != sorted(mirror.values()):
                failures.append(f"seed {seed} round {rnd}: post-rewrite mismatch")
        # occasionally expire history: current reads must be unaffected
        # (only unreferenced metadata + mirror-owned orphans are reaped)
        if rng.random() < 0.3:
            iceberg_export.expire_snapshots_iceberg(dest, rng.randint(1, 2))
            if spark_rows() != sorted(mirror.values()):
                failures.append(f"seed {seed} round {rnd}: post-expire mismatch")
        # occasionally commit a mirror-side MOR equality delete: rows
        # with the doomed grp vanish from every CURRENT file (mirror
        # drops them across the board); files appended in LATER rounds
        # carry a newer sequence, so their doomed-grp rows must survive
        if rng.random() < 0.3:
            from pyspark.sql import functions as F2

            g = rng.randint(0, 3)
            iceberg_export.delete_where_iceberg(
                spark, dest, F2.col("grp") == g, ["grp"]
            )
            mirror = {
                k: row for k, row in mirror.items() if row[1] != g
            }
            if spark_rows() != sorted(mirror.values()):
                failures.append(f"seed {seed} round {rnd}: post-eqdel mismatch")
        # occasionally commit a mirror-DML-initiated POSITION delete
        # (round 7: delete_positions_iceberg) — the predicate evaluates
        # against the LIVE table, so already-dead rows are never
        # re-deleted and files of every era (appends included) are in
        # scope per the <=-sequence rule; the mirror pops every live
        # row matching the predicate by value
        if rng.random() < 0.35:
            from pyspark.sql import functions as F5

            m, r = rng.randint(2, 7), 0
            r = rng.randint(0, m - 1)
            iceberg_export.delete_positions_iceberg(
                spark, dest, F5.col("id") % m == r
            )
            mirror = {
                k2: row for k2, row in mirror.items() if row[0] % m != r
            }
            if spark_rows() != sorted(mirror.values()):
                failures.append(
                    f"seed {seed} round {rnd}: post-posdel-dml mismatch"
                )
        # occasionally commit an atomic mirror-side MOR UPDATE: matched
        # ids' old copies die via the same-sequence equality delete
        # (strict-< scoping) while the rewritten rows land in NEW files
        # — the mirror pops the matched ids and re-reads the replacement
        # rows straight from the new parquet (no float re-derivation)
        if rng.random() < 0.3:
            from pyspark.sql import functions as F3

            g = rng.randint(0, 3)
            matched_ids = {row[0] for row in mirror.values() if row[1] == g}
            before_files = set(file_rows)
            iceberg_export.update_where_iceberg(
                spark,
                dest,
                F3.col("grp") == g,
                {"val": F3.col("val") + F3.lit(1.0)},
                ["id"],
            )
            mirror = {
                k: row for k, row in mirror.items()
                if row[0] not in matched_ids
            }
            paths = data_paths()
            for p in paths:
                if p in before_files:
                    continue
                for pos, (i, gg, v) in enumerate(file_tuples(p)):
                    mirror[(p, pos)] = (i, gg, round(v, 4))
                file_rows[p] = pq.read_metadata(p).num_rows
            if spark_rows() != sorted(mirror.values()):
                failures.append(f"seed {seed} round {rnd}: post-update mismatch")
        # occasionally commit an atomic mirror-side MERGE (upsert):
        # matched ids' old copies die via the same-sequence equality
        # delete while the source rows — matched updates AND fresh
        # inserts — land in NEW files in one snapshot; the mirror pops
        # the matched ids and re-reads the new parquet
        if rng.random() < 0.3:
            from pyspark.sql import functions as F4

            g = rng.randint(0, 3)
            matched_ids = {row[0] for row in mirror.values() if row[1] == g}
            k = rng.randint(1, 10)
            new_rows = [
                (next_id + j, rng.randint(0, 3), round(rng.uniform(-10, 10), 4))
                for j in range(k)
            ]
            next_id += k
            src = (
                iceberg_export.read_iceberg(spark, dest)
                .filter(F4.col("grp") == g)
                .withColumn("val", F4.col("val") + F4.lit(10.0))
                .unionByName(spark.createDataFrame(new_rows, SCHEMA))
            )
            before_files = set(file_rows)
            iceberg_export.merge_iceberg(spark, dest, src, ["id"])
            mirror = {
                k2: row for k2, row in mirror.items()
                if row[0] not in matched_ids
            }
            paths = data_paths()
            for p in paths:
                if p in before_files:
                    continue
                for pos, (i, gg, v) in enumerate(file_tuples(p)):
                    mirror[(p, pos)] = (i, gg, round(v, 4))
                file_rows[p] = pq.read_metadata(p).num_rows
            if spark_rows() != sorted(mirror.values()):
                failures.append(f"seed {seed} round {rnd}: post-merge mismatch")
        # occasionally commit a dynamic partition overwrite: on a
        # partitioned mirror exactly the touched grp partitions are
        # replaced (partition-pure files, so the mirror pops by grp
        # VALUE and keeps every surviving file's delete holes); on an
        # unpartitioned mirror it is a full INSERT OVERWRITE and the
        # mirror rebuilds from the fresh files alone — prior eq/pos
        # deletes are all strictly older than the new sequence
        if rng.random() < 0.25:
            k = rng.randint(3, 30)
            new_rows = [
                (next_id + j, rng.randint(0, 3), round(rng.uniform(-10, 10), 4))
                for j in range(k)
            ]
            next_id += k
            iceberg_export.overwrite_partitions_iceberg(
                spark,
                dest,
                spark.createDataFrame(new_rows, SCHEMA).repartition(
                    rng.randint(1, 3)
                ),
            )
            before_files = set(file_rows)
            if partitioned:
                touched = {g for _, g, _ in new_rows}
                mirror = {
                    k2: row for k2, row in mirror.items()
                    if row[1] not in touched
                }
            else:
                mirror = {}
            paths = data_paths()
            file_rows = {p: r for p, r in file_rows.items() if p in paths}
            for p in paths:
                if p in before_files:
                    continue
                for pos, (i, gg, v) in enumerate(file_tuples(p)):
                    mirror[(p, pos)] = (i, gg, round(v, 4))
                file_rows[p] = pq.read_metadata(p).num_rows
            if spark_rows() != sorted(mirror.values()):
                failures.append(f"seed {seed} round {rnd}: post-overwrite mismatch")
        # occasionally compact: every live delete materializes into
        # fresh data files (REPLACE snapshot, no delete manifests), so
        # the VALUES are unchanged but every (file, pos) key is new —
        # rebuild the mirror from the rewritten files
        if rng.random() < 0.25:
            values_before = sorted(mirror.values())
            iceberg_export.compact_iceberg(spark, dest)
            paths = data_paths()
            mirror, file_rows = {}, {}
            for p in paths:
                for pos, (i, g, v) in enumerate(file_tuples(p)):
                    mirror[(p, pos)] = (i, g, round(v, 4))
                file_rows[p] = pq.read_metadata(p).num_rows
            if sorted(mirror.values()) != values_before:
                failures.append(f"seed {seed} round {rnd}: compact changed values")
            if spark_rows() != values_before:
                failures.append(f"seed {seed} round {rnd}: post-compact mismatch")
        # round-7 changelog invariant: the CDC net diff between the
        # round's opening snapshot and the head must equal the python
        # mirror's value diff — on every interleaving of appends, both
        # delete kinds, updates, merges, overwrites, rewrites, and
        # compaction (maintenance must contribute nothing). Skipped only
        # when expiry reaped the opening snapshot.
        from collections import Counter

        doc_now = iceberg_export._load_metadata(dest)
        head = doc_now["current-snapshot-id"]
        if any(s["snapshot-id"] == prev_sid for s in doc_now["snapshots"]):
            cl = iceberg_export.changelog_iceberg(spark, dest, prev_sid, head)
            got_cl: Counter = Counter()
            for r in cl.collect():
                got_cl[(r.id, r.grp, round(r.val, 4), r._change_type)] += r._n
            plus = Counter(mirror.values())
            minus = Counter(prev_values)
            want_cl: Counter = Counter()
            for row, n in (plus - minus).items():
                want_cl[(*row, "INSERT")] = n
            for row, n in (minus - plus).items():
                want_cl[(*row, "DELETE")] = n
            if got_cl != want_cl:
                failures.append(
                    f"seed {seed} round {rnd}: changelog diverges from "
                    f"mirror diff (extra {dict(got_cl - want_cl)}, "
                    f"missing {dict(want_cl - got_cl)})"
                )
        prev_sid, prev_values = head, list(mirror.values())
    return failures


def main() -> int:
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 5

    from iceberg_relative_io_spark.session import get_spark

    spark = get_spark(app_name="fuzz_posdel")
    all_failures: list[str] = []
    n_clean = 0
    for seed in range(n_seeds):
        fails = run_seed(spark, seed)
        status = "FAIL" if fails else "OK"
        n_clean += not fails
        print(f"{status}  seed {seed}")
        all_failures.extend(fails)
    for f in all_failures:
        print("  " + f)
    print(f"\n{n_clean}/{n_seeds} seeds clean")
    return 1 if all_failures else 0


if __name__ == "__main__":
    sys.exit(main())
