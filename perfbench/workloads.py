"""The two workloads: op classes, their block schedule, set-up, and the
end-of-run checks.

Every op runs the engine call and returns a check (a no-argument
callable returning an error string or None) that is evaluated after
the op's timer stops, so checking never costs timed work and never
touches the engine's state.
"""

from __future__ import annotations

import os
import random

from model import SCHEMA, TableModel, arrow_table, rows_of

PARTS = 8  # identity partitions of every table


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _expect(got, want, what: str):
    def check():
        return None if got == want else f"{what}: got {got}, model says {want}"

    return check


class Workload:
    """One closed-loop client. Subclasses define ``SKELETON`` (the slots
    of one schedule block), ``POOLS`` (slot kind -> the op classes that
    take turns in its slots), ``BLOCK_S`` (the nominal wall time of one
    block on a 4-vCPU host), ``GROUPS`` (end-to-end metric -> the
    classes it summarises) and one ``op_<class>`` method per class.

    Block ``b`` fills a pool's ``i``-th slot with its entry
    ``(i + b) mod k``, a Latin square: over consecutive blocks every
    class visits every slot, and every run of a workload meets the same
    sequence of table states. The seed drives the inputs: batches,
    partitions, keys, merge sources and filter values."""

    SKELETON: tuple[str, ...] = ()
    POOLS: dict[str, tuple[str, ...]] = {}
    BLOCK_S: float
    GROUPS: dict[str, tuple[str, ...]] = {}

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.rng = random.Random(seed)
        self.model = TableModel()
        self.user_rows: list[tuple] = []
        self._n_block = 0
        self._write_parts: list[int] = []
        self._read_parts: list[int] = []

    def classes(self) -> list[str]:
        return sorted({c for kind in self.SKELETON for c in self.POOLS.get(kind, (kind,))})

    def block(self) -> list[str]:
        seen: dict[str, int] = {}
        out = []
        for kind in self.SKELETON:
            order = self.POOLS.get(kind)
            if order is None:
                out.append(kind)
                continue
            i = seen.get(kind, 0)
            seen[kind] = i + 1
            out.append(order[(i + self._n_block) % len(order)])
        self._n_block += 1
        return out

    def run_op(self, cls: str):
        return getattr(self, f"op_{cls}")()

    def warm(self) -> list[str]:
        """One schedule block on this (throwaway) table, which runs every
        class at least once; returns the failures."""
        errors = []
        for cls in self.block():
            try:
                err = self.run_op(cls)()
            except Exception as e:
                err = f"{type(e).__name__}: {e}"[:500]
            if err:
                errors.append(f"warm-up {cls}: {err}")
        return errors

    def _df(self, rows):
        self.user_rows.extend(rows)
        return self.spark.createDataFrame(arrow_table(rows))

    def _next_part(self, queue: list[int]) -> int:
        """Partitions are dealt from seeded permutations of all of them,
        so every partition gets the same share of writes (and of reads)
        and a read's cost does not hinge on the seed's favourites."""
        if not queue:
            queue.extend(self.rng.sample(range(PARTS), PARTS))
        return queue.pop()

    def _new_batch(self, n: int):
        parts = {self._next_part(self._write_parts) for _ in range(2)}
        return self.model.fresh_rows(self.rng, n, sorted(parts))

    def _read_part(self) -> int:
        return self._next_part(self._read_parts)

    def _pick_ids(self) -> list[int]:
        """One live key from each partition for a delete or merge, so
        every row-level op touches every partition alike and a later
        read's cost does not hinge on where the seed's keys fell."""
        return self.model.pick_ids_per_part(self.rng, range(PARTS), 1)

    def _merge_source(self, n_new: int):
        matched = [
            (i, self.model.rows[i][1], round(self.rng.uniform(0, 1000), 3), "merged")
            for i in self._pick_ids()
        ]
        return matched + self._new_batch(n_new)


class LakeIngest(Workload):
    """Micro-batch ingestion into a native RelativeTable through
    FsCatalog: small appends (1-2 partitions each, so files ~ commits)
    interleaved with pruned reads, driver-only metadata ops, MOR
    deletes, merges, and DSv2 ``relative`` appends and reads. No
    compaction, so snapshot history grows through the run. Each block's
    reads fall between its MOR delete and its merge (a copy-on-write
    rewrite), so every read applies the same live delete file."""

    BASE_ROWS = 512
    BATCH_ROWS = 64
    SKELETON = (
        "append", "meta", "append", "delete_mor", "read", "meta", "read", "dsv2",
        "read", "append", "read", "meta", "dsv2", "read", "read", "merge", "meta",
    )
    POOLS = {
        "meta": ("meta_scan", "meta_load", "meta_props", "meta_tag"),
        "dsv2": ("dsv2_append", "dsv2_read"),
    }
    BLOCK_S = 7.5
    GROUPS = {
        "append_p50_ms": ("append",),
        "read_p50_ms": ("read",),
        "meta_p50_ms": ("meta_scan", "meta_load", "meta_props", "meta_tag"),
        "rowdml_p50_ms": ("delete_mor", "merge"),
        "dsv2_append_p50_ms": ("dsv2_append",),
        "dsv2_read_p50_ms": ("dsv2_read",),
    }
    NS = ("bench",)
    NAME = "events"

    def setup(self, work_dir: str) -> None:
        from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable

        self.wh = os.path.join(work_dir, "warehouse")
        catalog = FsCatalog(self.wh)
        catalog.create_namespace(self.NS)
        schema = self.spark.createDataFrame([], SCHEMA).schema.jsonValue()
        ops = catalog.create_table(
            self.NS,
            self.NAME,
            schema,
            partition_by=["part"],
            # bounded metadata history, as a streaming ingest job runs it
            properties={
                "write.metadata.delete-after-commit.enabled": "true",
                "write.metadata.previous-versions-max": "10",
            },
        )
        self.table = RelativeTable(ops)
        # the ingest target already holds data in every partition (a
        # relative data-source read that plans no file fails; README)
        base = self.model.fresh_rows(self.rng, self.BASE_ROWS, list(range(PARTS)))
        self.table.append(self._df(base))
        self.model.append(base)
        self.commits = 2
        self.props = {}
        self.tags = []

    def _dsv2(self, reader_or_writer, wh: str | None = None):
        return reader_or_writer.format("relative").option(
            "warehouse", wh or self.wh
        ).option("table", ".".join(self.NS + (self.NAME,)))

    def op_append(self):
        rows = self._new_batch(self.BATCH_ROWS)
        self.table.append(self._df(rows))
        self.model.append(rows)
        self.commits += 1
        return lambda: None

    def op_read(self):
        p = self._read_part()
        n = self.table.read(self.spark, partition_filter={"part": p}).count()
        return _expect(n, self.model.count(p), f"read part={p}")

    def op_meta_scan(self):
        p = self._read_part()
        files = self.table.scan_files(partition_filter={"part": p})
        want = self.model.count(p) > 0

        def check():
            if want and not files:
                return f"scan_files part={p} planned no file for live rows"
            return None

        return check

    def op_meta_load(self):
        from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable

        p = self._read_part()
        fresh = RelativeTable(FsCatalog(self.wh).load_table(self.NS, self.NAME))
        fresh.scan_files(partition_filter={"part": p})
        return _expect(fresh.ops.current_version(), self.commits, "fresh load version")

    def op_meta_props(self):
        key = f"bench.k{self.rng.randrange(4)}"
        value = str(self.rng.randrange(1 << 30))
        self.table.set_properties({key: value})
        self.props[key] = value
        self.commits += 1
        return lambda: None

    def op_meta_tag(self):
        name = f"t{len(self.tags)}"
        self.table.create_tag(name)
        self.tags.append(name)
        self.commits += 1
        return lambda: None

    def op_delete_mor(self):
        from pyspark.sql import functions as F

        ids = self._pick_ids()
        self.table.delete_where_mor(self.spark, F.col("id").isin(ids), ["id"])
        self.model.delete(ids)
        self.commits += 1
        return lambda: None

    def op_merge(self):
        rows = self._merge_source(8)
        self.table.merge(self.spark, self._df(rows), ["id"])
        self.model.upsert(rows)
        self.commits += 1
        return lambda: None

    def op_dsv2_append(self):
        rows = self._new_batch(self.BATCH_ROWS)
        self._dsv2(self._df(rows).write).mode("append").save()
        # the handle sees the commit made through the data source
        self.table.ops.refresh()
        self.model.append(rows)
        self.commits += 1
        return lambda: None

    def op_dsv2_read(self):
        from pyspark.sql import functions as F

        p = self._read_part()
        n = self._dsv2(self.spark.read).load().where(F.col("part") == p).count()
        return _expect(n, self.model.count(p), f"dsv2 read part={p}")

    def history_depth(self) -> int:
        return len(self.table.ops.current()["snapshots"])

    def stored_bytes(self) -> int:
        return dir_bytes(self.wh)

    def final_checks(self) -> list[str]:
        """Full-table equality with the model, the metadata the meta ops
        wrote, then the paper's property: move the warehouse, reopen it
        with a fresh catalog, and read through both read paths."""
        from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable

        errors = []
        want = self.model.sorted_rows()
        if rows_of(self.table.read(self.spark)) != want:
            errors.append("full-table read differs from the model")
        meta = self.table.ops.current()
        props = meta.get("properties", {})
        for k, v in self.props.items():
            if props.get(k) != v:
                errors.append(f"property {k}: got {props.get(k)}, want {v}")
        missing = set(self.tags) - set(self.table.tags())
        if missing:
            errors.append(f"tags missing: {sorted(missing)}")
        moved = self.wh + "-moved"
        os.rename(self.wh, moved)
        reopened = RelativeTable(FsCatalog(moved).load_table(self.NS, self.NAME))
        if rows_of(reopened.read(self.spark)) != want:
            errors.append("relocated warehouse: RelativeTable.read differs")
        if rows_of(self._dsv2(self.spark.read, moved).load()) != want:
            errors.append("relocated warehouse: relative data source differs")
        return errors


class MirrorMor(Workload):
    """An Iceberg-v2 mirror, exported once in set-up, taking seeded
    appends, equality deletes, position deletes and merges interleaved
    with eq-filtered reads; every block ends with a compact + expire
    cycle, so the run spans several merge-on-read cycles. Reads come
    after the block's three row-level deletes, and every write touches
    every partition alike (appends and new merge rows are dealt
    round-robin, deleted and merged keys are one per partition), so
    every read, whichever partition it filters on, pays the same
    merge-on-read state."""

    BASE_ROWS = 4000
    BATCH_ROWS = 64
    SKELETON = (
        "append", "rowdml", "append", "rowdml", "rowdml",
        "read", "read", "read", "maint",
    )
    POOLS = {"rowdml": ("eq_delete", "pos_delete", "merge")}
    BLOCK_S = 16.0
    GROUPS = {
        "append_p50_ms": ("append",),
        "read_p50_ms": ("read",),
        "rowdml_p50_ms": ("eq_delete", "pos_delete", "merge"),
        "maint_p50_ms": ("maint",),
    }

    def setup(self, work_dir: str) -> None:
        from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable
        from iceberg_relative_io_spark.catalog import iceberg_export

        self.wh = os.path.join(work_dir, "warehouse")
        catalog = FsCatalog(self.wh)
        catalog.create_namespace(("src",))
        base = self.model.fresh_rows(self.rng, self.BASE_ROWS, list(range(PARTS)))
        df = self._df(base)
        source = RelativeTable(
            catalog.create_table(("src",), "base", df.schema.jsonValue(), partition_by=["part"])
        )
        source.append(df)
        self.model.append(base)
        self.dir = os.path.join(self.wh, "mirror")
        iceberg_export.export_iceberg(source, self.dir)

    def _new_batch(self, n: int):
        return self.model.fresh_rows(self.rng, n, list(range(PARTS)), even=True)

    def op_append(self):
        from iceberg_relative_io_spark.catalog import iceberg_export

        rows = self._new_batch(self.BATCH_ROWS)
        iceberg_export.append_iceberg(self.spark, self.dir, self._df(rows))
        self.model.append(rows)
        return lambda: None

    def op_read(self):
        from iceberg_relative_io_spark.catalog import iceberg_export

        p = self._read_part()
        n = iceberg_export.read_iceberg(self.spark, self.dir, eq_filters={"part": p}).count()
        return _expect(n, self.model.count(p), f"read part={p}")

    def op_eq_delete(self):
        from pyspark.sql import functions as F

        from iceberg_relative_io_spark.catalog import iceberg_export

        ids = self._pick_ids()
        iceberg_export.delete_where_iceberg(self.spark, self.dir, F.col("id").isin(ids), ["id"])
        self.model.delete(ids)
        return lambda: None

    def op_pos_delete(self):
        from pyspark.sql import functions as F

        from iceberg_relative_io_spark.catalog import iceberg_export

        ids = self._pick_ids()
        iceberg_export.delete_positions_iceberg(self.spark, self.dir, F.col("id").isin(ids))
        self.model.delete(ids)
        return lambda: None

    def op_merge(self):
        from iceberg_relative_io_spark.catalog import iceberg_export

        rows = self._merge_source(8)
        iceberg_export.merge_iceberg(self.spark, self.dir, self._df(rows), ["id"])
        self.model.upsert(rows)
        return lambda: None

    def op_maint(self):
        from iceberg_relative_io_spark.catalog import iceberg_export

        iceberg_export.compact_iceberg(self.spark, self.dir)
        iceberg_export.expire_snapshots_iceberg(self.dir, keep_last=1)
        return lambda: None

    def history_depth(self) -> int:
        from iceberg_relative_io_spark.catalog import iceberg_export

        return len(iceberg_export._load_metadata(self.dir)["snapshots"])

    def stored_bytes(self) -> int:
        return dir_bytes(self.wh)

    def final_checks(self) -> list[str]:
        from iceberg_relative_io_spark.catalog import iceberg_export

        if rows_of(iceberg_export.read_iceberg(self.spark, self.dir)) != self.model.sorted_rows():
            return ["full mirror read differs from the model"]
        return []


WORKLOADS = {"lake_ingest": LakeIngest, "mirror_mor": MirrorMor}
