"""Generator determinism per seed, and the input properties the checks
rely on."""

import json

import pyarrow as pa

from perfbench import gen


def test_order_files_deterministic_per_seed():
    a, b = gen.order_file(7, 3, 2000), gen.order_file(7, 3, 2000)
    assert a.lines == b.lines and a.rows == b.rows
    assert gen.order_file(8, 3, 2000).lines != a.lines
    assert gen.order_file(7, 4, 2000).lines != a.lines


def test_order_files_carry_every_malformation_class():
    f = gen.order_file(1, 0, 20000)
    rows = f.rows
    assert f.n_lines - len(rows) == f.lines.count(gen.CORRUPT_LINE) > 0
    assert any(r[0] is None for r in rows)  # order_id missing
    assert any(r[1] is None for r in rows)  # product_name missing
    assert {"abc", "-5"} <= {r[2] for r in rows}
    assert {"xyz", "-42"} <= {r[3] for r in rows}
    assert any(r[4] is None for r in rows)
    assert any(r[4] is not None and r[4].isdigit() for r in rows)  # epoch days
    for line, row in zip([x for x in f.lines if x != gen.CORRUPT_LINE], rows):
        parsed = json.loads(line)
        assert [parsed.get(c) for c in gen.RAW_COLUMNS] == list(row)


def test_raw_order_table_schema():
    t = gen.raw_order_table([gen.order_file(1, 0, 50), gen.order_file(1, 1, 50)])
    assert t.column_names == gen.RAW_COLUMNS
    assert all(t.schema.field(c).type == pa.string() for c in gen.RAW_COLUMNS)


def test_unique_texts_deterministic_and_distinct():
    a, b = gen.unique_texts(gen.rng_for(3), 300), gen.unique_texts(gen.rng_for(3), 300)
    assert a == b and len(set(a)) == 300
    assert gen.unique_texts(gen.rng_for(4), 300) != a


def test_order_ids_name_their_file():
    f = gen.order_file(1, 42, 500)
    ids = [int(r[0]) for r in f.rows if r[0] is not None]
    assert ids and all(i // gen.ORDER_ID_STRIDE == f.file_no == 42 for i in ids)


def test_batch_tables_deterministic_with_testdata_schema():
    a, b = gen.batch_tables(5), gen.batch_tables(5)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(gen.batch_tables(6)["lineitem"])
    assert {t: a[t].num_rows for t in a} == gen.TABLE_ROWS
    assert a["orders"].schema.field("o_orderdate").type == pa.timestamp("us")
    assert a["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())
    assert a["nation"].schema.field("n_nationkey").type == pa.int32()
