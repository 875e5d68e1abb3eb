"""Seeded input generators. The engine only ever sees the files written
here; the same seed always yields byte-identical files.

Order lines carry every malformation class of
`sources/raw_orders.py` (missing fields, non-numeric and negative
numerics, epoch-days dates, missing date) plus corrupt lines that never
parse. Batch tables follow the schema of the engine's testdata tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORRUPT_LINE = '{"broken'
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big customer "
    "query group filter stream vector"
).split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
RAW_COLUMNS = ["order_id", "product_name", "quantity", "price", "order_date"]
ORDER_ID_STRIDE = 1_000_000  # order id = file_no * stride + line number


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding one input kind
    never shifts the values of another."""
    return np.random.default_rng([seed, *stream])


# ---------------------------------------------------------------- orders


@dataclass
class OrderFile:
    file_no: int
    name: str
    lines: list[str]
    rows: list[tuple]  # parsed rows (RAW_COLUMNS order); corrupt lines excluded

    @property
    def n_lines(self) -> int:
        return len(self.lines)


_FIRST_DAY, _LAST_DAY = 9131, 11535  # 1995-01-01 .. 2001-08-01, as epoch days
_ISO_DAYS = [str(d) for d in np.arange(_FIRST_DAY, _LAST_DAY, dtype="datetime64[D]")]


def order_file(seed: int, file_no: int, n_rows: int) -> OrderFile:
    """One JSON-lines order file; order ids are unique per (seed, file_no).
    Generated values hold no quote or backslash, so lines are formatted
    directly."""
    r = rng_for(seed, 1, file_no)
    u = r.random((n_rows, 9)).tolist()
    qty = r.integers(1, 51, n_rows).tolist()
    price = r.integers(100, 2000, n_rows).tolist()
    day = r.integers(0, _LAST_DAY - _FIRST_DAY, n_rows).tolist()
    prio = r.integers(0, len(PRIORITIES), n_rows).tolist()
    lines, rows = [], []
    for i, ui in enumerate(u):
        if ui[0] < 1 / 31:
            lines.append(CORRUPT_LINE)
            continue
        oid = None if ui[1] < 1 / 13 else str(file_no * ORDER_ID_STRIDE + i)
        name = None if ui[2] < 1 / 17 else "Product " + PRIORITIES[prio[i]]
        q = "abc" if ui[3] < 1 / 7 else "-5" if ui[4] < 1 / 11 else str(qty[i])
        p = "xyz" if ui[5] < 1 / 19 else "-42" if ui[6] < 1 / 23 else str(price[i])
        if ui[7] < 1 / 29:
            d = None
        elif ui[8] < 1 / 5:
            d = str(_FIRST_DAY + day[i])
        else:
            d = _ISO_DAYS[day[i]]
        row = (oid, name, q, p, d)
        rows.append(row)
        lines.append("{" + ",".join(
            f'"{c}":"{v}"' for c, v in zip(RAW_COLUMNS, row) if v is not None
        ) + "}")
    return OrderFile(file_no, f"orders-{file_no:05d}.json", lines, rows)


def raw_order_table(files: list[OrderFile]) -> pa.Table:
    """Every parsed row of `files` as the string relation the validate
    twin (`VALIDATE_ENRICH_SQL`) expects as `raw`."""
    cols = list(zip(*[row for f in files for row in f.rows])) or [()] * 5
    return pa.table({c: pa.array(list(v), pa.string()) for c, v in zip(RAW_COLUMNS, cols)})


# ------------------------------------------------------------- documents


def unique_texts(r: np.random.Generator, n: int) -> list[str]:
    """`n` distinct documents of 10 to 99 words."""
    seen: set[str] = set()
    texts = []
    while len(texts) < n:
        text = " ".join(WORDS[j] for j in r.integers(0, len(WORDS), int(r.integers(10, 100))))
        if text not in seen:
            seen.add(text)
            texts.append(text)
    return texts


# ---------------------------------------------------------- batch tables

TABLE_ROWS = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100, "part": 2000,
    "orders": 15000, "lineitem": 60000, "events": 10000, "documents": 500,
    "embeddings": 500,
}
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["red", "blue", "small", "large", "hot", "old"]
_PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _ts(days_from_epoch: np.ndarray) -> pa.Array:
    us = (days_from_epoch * 86_400_000_000).astype("int64")
    return pa.array(us, pa.timestamp("us"))


def batch_tables(seed: int) -> dict[str, pa.Table]:
    """TPC-H-style star schema plus events/documents/embeddings, with the
    column names and types of the engine's testdata at sf0.01."""
    r = rng_for(seed, 3)
    n = TABLE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(r.integers(0, 25, c), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in r.integers(0, 5, c)],
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(r.integers(0, 25, s), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, s), 2),
    })
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 6, p), r.integers(0, 7, p))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, p)],
        "p_type": [_PART_TYPES[i] for i in r.integers(0, 6, p)],
        "p_size": pa.array(r.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2),
    })
    o = n["orders"]
    odays = r.integers(9131, 11535, o)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, c, o), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in r.integers(0, 3, o)],
        "o_totalprice": np.round(r.uniform(1000, 500000, o), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, o)],
    })
    li = n["lineitem"]
    lok = r.integers(0, o, li)
    qty = r.integers(1, 51, li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(r.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, li), 2),
        "l_discount": r.integers(0, 11, li) / 100,
        "l_tax": r.integers(0, 9, li) / 100,
        "l_returnflag": [["A", "N", "R"][i] for i in r.integers(0, 3, li)],
        "l_linestatus": [["F", "O"][i] for i in r.integers(0, 2, li)],
        "l_shipdate": _ts(odays[lok] + r.integers(1, 122, li)),
    })
    e = n["events"]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(np.sort(r.integers(1_704_067_200_000_000, 1_706_659_200_000_000, e)),
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 150, e), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in r.integers(0, 5, e)],
        "value": np.round(r.uniform(0.01, 490.0, e), 2),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = unique_texts(rng_for(seed, 2), d)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.integers(0, len(LANGS), d)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    m = n["embeddings"]
    vec = r.normal(0, 0.1, (m, 64)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, m), pa.int32()),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
