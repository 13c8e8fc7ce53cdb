"""The benchmark's own model of a table, and the seeded input generator.

Every table the workloads write has the schema ``id long, part int,
val double, tag string``, partitioned by identity on ``part``. The
model is a dict keyed by ``id``; each op applies its SQL meaning to it,
and every timed read's count plus the full table at run end must equal
the model.
"""

from __future__ import annotations

import random

SCHEMA = "id long, part int, val double, tag string"
COLUMNS = ("id", "part", "val", "tag")
TAGS = ("alpha", "beta", "gamma", "delta", "epsilon")


class TableModel:
    def __init__(self):
        self.rows: dict[int, tuple] = {}
        self._per_part: dict[int, int] = {}
        self._next_id = 0

    def fresh_rows(
        self, rng: random.Random, n: int, parts: list[int], even: bool = False
    ) -> list[tuple]:
        """``n`` new rows with unused ids, spread over ``parts`` at
        random, or dealt round-robin with ``even``."""
        out = []
        for i in range(n):
            out.append(
                (
                    self._next_id,
                    parts[i % len(parts)] if even else rng.choice(parts),
                    round(rng.uniform(0, 1000), 3),
                    rng.choice(TAGS),
                )
            )
            self._next_id += 1
        return out

    def pick_ids_per_part(self, rng: random.Random, parts, k: int) -> list[int]:
        """``k`` live ids from each of ``parts`` (fewer where a partition
        holds fewer), seeded."""
        live: dict[int, list[int]] = {p: [] for p in parts}
        for i, r in sorted(self.rows.items()):
            if r[1] in live:
                live[r[1]].append(i)
        return [i for p in parts for i in rng.sample(live[p], min(k, len(live[p])))]

    def _put(self, row) -> None:
        self.delete([row[0]])
        self.rows[row[0]] = tuple(row)
        self._per_part[row[1]] = self._per_part.get(row[1], 0) + 1
        self._next_id = max(self._next_id, row[0] + 1)

    def append(self, rows) -> None:
        for r in rows:
            if r[0] in self.rows:
                raise ValueError(f"append of existing id {r[0]}")
            self._put(r)

    def delete(self, ids) -> None:
        for i in ids:
            old = self.rows.pop(i, None)
            if old is not None:
                self._per_part[old[1]] -= 1

    def upsert(self, rows) -> None:
        for r in rows:
            self._put(r)

    def count(self, part: int | None = None) -> int:
        if part is None:
            return len(self.rows)
        return self._per_part.get(part, 0)

    def sorted_rows(self) -> list[tuple]:
        return sorted(self.rows.values())


def rows_of(df) -> list[tuple]:
    """A DataFrame's rows as sorted model tuples (columns by name)."""
    return sorted(
        (int(r["id"]), int(r["part"]), float(r["val"]), str(r["tag"]))
        for r in df.select(*COLUMNS).collect()
    )


def arrow_table(rows):
    """Rows as a pyarrow Table of ``SCHEMA``. The workloads hand the
    engine DataFrames made from it: Spark turns an Arrow table into a
    local relation in the JVM, where a list of tuples would start Python
    workers to unpickle the rows on every op."""
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [[], [], [], []]
    return pa.table(
        {
            "id": pa.array(cols[0], pa.int64()),
            "part": pa.array(cols[1], pa.int32()),
            "val": pa.array(cols[2], pa.float64()),
            "tag": pa.array(cols[3], pa.string()),
        }
    )


def user_bytes(rows) -> int:
    """Arrow ``nbytes`` of generated input rows (what the user handed
    the engine), the denominator of storage amplification."""
    return arrow_table(rows).nbytes
