import random

import pytest

from model import TableModel, arrow_table, user_bytes


def test_fresh_rows_are_seeded_and_never_reuse_ids():
    a, b = TableModel(), TableModel()
    ra = a.fresh_rows(random.Random(7), 50, [1, 2])
    rb = b.fresh_rows(random.Random(7), 50, [1, 2])
    assert ra == rb
    assert {r[1] for r in ra} <= {1, 2}
    a.append(ra)
    more = a.fresh_rows(random.Random(8), 10, [3])
    assert not {r[0] for r in more} & {r[0] for r in ra}


def test_append_delete_upsert_keep_partition_counts():
    m = TableModel()
    m.append([(0, 1, 1.0, "a"), (1, 1, 2.0, "b"), (2, 2, 3.0, "c")])
    assert (m.count(), m.count(1), m.count(2), m.count(9)) == (3, 2, 1, 0)
    m.delete([1, 42])  # an unknown id is a no-op, as in SQL
    assert (m.count(), m.count(1)) == (2, 1)
    # upsert: id 0 moves to partition 2 and changes value; id 5 is new
    m.upsert([(0, 2, 9.0, "merged"), (5, 1, 4.0, "d")])
    assert (m.count(), m.count(1), m.count(2)) == (3, 1, 2)
    assert m.rows[0] == (0, 2, 9.0, "merged")
    # ids handed out later never collide with upserted ones
    assert m.fresh_rows(random.Random(1), 1, [1])[0][0] == 6


def test_append_of_existing_id_is_refused():
    m = TableModel()
    m.append([(0, 1, 1.0, "a")])
    with pytest.raises(ValueError):
        m.append([(0, 1, 1.0, "a")])


def test_pick_ids_per_part_is_bounded_by_the_partition():
    m = TableModel()
    m.append([(i, 0, 0.0, "t") for i in range(20)] + [(20, 1, 0.0, "t")])
    assert sorted(m.pick_ids_per_part(random.Random(3), [0, 1, 2], 50)) == list(range(21))



def test_even_rows_and_per_part_picks_cover_every_partition():
    m = TableModel()
    rows = m.fresh_rows(random.Random(2), 24, [0, 1, 2, 3], even=True)
    assert [sum(r[1] == p for r in rows) for p in range(4)] == [6, 6, 6, 6]
    m.append(rows)
    picked = m.pick_ids_per_part(random.Random(5), range(4), 2)
    assert picked == m.pick_ids_per_part(random.Random(5), range(4), 2)
    assert [sum(m.rows[i][1] == p for i in picked) for p in range(4)] == [2, 2, 2, 2]
    assert len(set(picked)) == 8


def test_arrow_table_keeps_the_schema_and_the_rows():
    rows = [(3, 1, 2.5, "beta"), (4, 0, 0.125, "alpha")]
    t = arrow_table(rows)
    assert [str(f.type) for f in t.schema] == ["int64", "int32", "double", "string"]
    assert [tuple(r.values()) for r in t.to_pylist()] == rows
    assert user_bytes(rows) == t.nbytes > 0
    assert arrow_table([]).num_rows == 0
