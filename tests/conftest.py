from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from iceberg_relative_io_spark.session import get_spark

    spark = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    yield spark


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def _typed_rows() -> list[tuple]:
    """Rows keyed on every equality-key type a driver-side delete read
    casts: date, timestamp (year 3000 included), decimal(38,10),
    unicode string, binary and boolean, with NULL in each."""
    import datetime as dt
    from decimal import Decimal

    rows = []
    for i in range(12):
        rows.append(
            (
                i,
                None if i == 3 else dt.date(2000 + i, 1 + i % 12, 1 + i),
                dt.datetime(3000, 1, 1, 12) if i == 5 else (
                    None if i == 7 else dt.datetime(2020, 1, 1, i, 30, 15, 123456)
                ),
                None if i == 9 else Decimal(f"{i:02d}23456789012345678901234567.0123456789"),
                None if i == 10 else f"ключ-{i}-é",
                None if i == 4 else bytes([i, 0, 255 - i]),
                None if i == 6 else i % 2 == 0,
            )
        )
    return rows


def _eq_delete_model(rows, cols, names, ids):
    """Rows left after an equality delete of the keys (columns
    ``names`` of ``cols``) of the rows whose id is in ``ids``, under
    NULL-safe tuple equality."""
    at = [cols.index(n) for n in names]
    gone = {tuple(r[i] for i in at) for r in rows if r[0] in ids}
    return [r for r in rows if tuple(r[i] for i in at) not in gone]


@pytest.fixture(scope="session")
def typed_keys():
    """Typed equality-key fixture shared by the native and mirror
    differential tests: ``rows`` of ``schema``, ``deletes`` as (key
    columns, ids of the rows whose keys are deleted), and ``model``."""
    from types import SimpleNamespace

    return SimpleNamespace(
        rows=_typed_rows(),
        schema="id long, d date, ts timestamp, dec decimal(38,10), s string, "
        "b binary, f boolean",
        deletes=[
            (["d", "ts"], {3, 5}),
            (["dec", "s"], {1, 9}),
            (["b", "f"], {4, 6, 8}),
        ],
        model=_eq_delete_model,
    )


def _anti_join_build_leaves(df) -> list[set]:
    """Leaf node names of the build (right) side of every left-anti
    join in ``df``'s physical plan."""
    def children(node):
        kids = node.children()
        return [kids.apply(i) for i in range(kids.size())]

    out = []
    stack = [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        stack.extend(children(node))
        if "Join" in node.nodeName() and node.joinType().toString() == "LeftAnti":
            leaves, todo = set(), [node.right()]
            while todo:
                n = todo.pop()
                kids = children(n)
                todo.extend(kids)
                if not kids:
                    leaves.add(n.nodeName())
            out.append(leaves)
    return out


@pytest.fixture(scope="session")
def anti_join_builds():
    """``f(df)``: the leaf node names of each left-anti join's build
    side in ``df``'s physical plan, shared by the plan-shape tests of
    both table formats."""
    return _anti_join_build_leaves
