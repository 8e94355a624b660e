"""Seeded TPC-H-shaped tables for the catalog queries.

Writes the ten tables the query catalog reads (``catalog.TABLES``) as
one parquet file each, with the column names and types of the driver's
test data and row counts of its smallest scale (6000 line items).
Values are uniform draws from ``random.Random(seed)``; money, prices
and event values carry two decimals, which is what the catalog's
cross-engine rounding contract assumes.

Usage: ``python3 perfbench/tablegen.py --seed 7 --out /tmp/tables``
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "PROMO", "STANDARD", "MEDIUM", "LARGE"]
ADJECTIVES = ["cold", "small", "large", "red", "green", "shiny", "old", "new"]
NOUNS = ["widget", "bolt", "gear", "valve", "panel", "spring"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
WORDS = ("the a b fast slow big small key order sort table scan merge part window "
         "hash join batch stream spark dup data line value agg customer filter group "
         "query row").split()
EMBED_DIM = 64
TS = pa.timestamp("us")


def _money(rnd: random.Random, lo: float, hi: float) -> float:
    return round(rnd.uniform(lo, hi), 2)


def _date(rnd: random.Random, start: dt.date, days: int) -> dt.datetime:
    d = start + dt.timedelta(days=rnd.randrange(days))
    return dt.datetime(d.year, d.month, d.day)


def generate(seed: int) -> dict[str, pa.Table]:
    rnd = random.Random(seed)
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array([rnd.randrange(25) for _ in range(n["customer"])], pa.int32()),
        "c_acctbal": [_money(rnd, -999, 9999) for _ in range(n["customer"])],
        "c_mktsegment": [rnd.choice(SEGMENTS) for _ in range(n["customer"])],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array([rnd.randrange(25) for _ in range(n["supplier"])], pa.int32()),
        "s_acctbal": [_money(rnd, -999, 9999) for _ in range(n["supplier"])],
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{rnd.choice(ADJECTIVES)} {rnd.choice(NOUNS)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{rnd.randint(1, 25)}" for _ in range(n["part"])],
        "p_type": [rnd.choice(PART_TYPES) for _ in range(n["part"])],
        "p_size": pa.array([rnd.randint(1, 50) for _ in range(n["part"])], pa.int32()),
        "p_retailprice": [round(900 + i / 10, 2) for i in range(n["part"])],
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array([rnd.randrange(n["customer"]) for _ in range(n["orders"])],
                              pa.int64()),
        "o_orderstatus": [rnd.choice("FOP") for _ in range(n["orders"])],
        "o_totalprice": [_money(rnd, 1000, 450000) for _ in range(n["orders"])],
        "o_orderdate": pa.array([_date(rnd, dt.date(1995, 1, 1), 2400)
                                 for _ in range(n["orders"])], TS),
        "o_orderpriority": [rnd.choice(PRIORITIES) for _ in range(n["orders"])],
    })
    line_no: dict[int, int] = {}
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate")}
    for _ in range(n["lineitem"]):
        o = rnd.randrange(n["orders"])
        line_no[o] = line_no.get(o, 0) + 1
        qty = float(rnd.randint(1, 50))
        li["l_orderkey"].append(o)
        li["l_partkey"].append(rnd.randrange(n["part"]))
        li["l_suppkey"].append(rnd.randrange(n["supplier"]))
        li["l_linenumber"].append(line_no[o])
        li["l_quantity"].append(qty)
        li["l_extendedprice"].append(round(qty * rnd.uniform(900, 2100), 2))
        li["l_discount"].append(rnd.randint(0, 10) / 100)
        li["l_tax"].append(rnd.randint(0, 8) / 100)
        li["l_returnflag"].append(rnd.choice("NAR"))
        li["l_linestatus"].append(rnd.choice("OF"))
        li["l_shipdate"].append(_date(rnd, dt.date(1995, 1, 1), 2400))
    t["lineitem"] = pa.table({
        **{k: pa.array(li[k], pa.int64()) for k in ("l_orderkey", "l_partkey", "l_suppkey")},
        "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
        **{k: li[k] for k in ("l_quantity", "l_extendedprice", "l_discount", "l_tax",
                              "l_returnflag", "l_linestatus")},
        "l_shipdate": pa.array(li["l_shipdate"], TS),
    })
    start = dt.datetime(2024, 1, 1)
    offsets = sorted(rnd.randrange(30 * 86400 * 10**6) for _ in range(n["events"]))
    t["events"] = pa.table({
        "event_id": pa.array(range(n["events"]), pa.int64()),
        "ts": pa.array([start + dt.timedelta(microseconds=o) for o in offsets], TS),
        "user_id": pa.array([rnd.randrange(15) for _ in range(n["events"])], pa.int64()),
        "event_type": [rnd.choice(EVENT_TYPES) for _ in range(n["events"])],
        "value": [_money(rnd, -20, 380) for _ in range(n["events"])],
        "props": [json.dumps({"k": rnd.randrange(100)}) for _ in range(n["events"])],
    })
    texts = [" ".join(rnd.choice(WORDS) for _ in range(rnd.randint(10, 90)))
             for _ in range(n["documents"])]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n["documents"]), pa.int64()),
        "text": texts,
        "lang": [rnd.choice(LANGS) for _ in range(n["documents"])],
        "source": [f"src{rnd.randrange(20)}" for _ in range(n["documents"])],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    centroids = [[rnd.gauss(0, 1) for _ in range(EMBED_DIM)] for _ in range(10)]
    vectors, labels = [], []
    for _ in range(n["embeddings"]):
        label = rnd.randrange(10)
        v = [c + rnd.gauss(0, 1.2) for c in centroids[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vectors.append([x / norm for x in v])
        labels.append(label)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(vectors, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(out: str, seed: int) -> dict[str, int]:
    """Write every table to ``out/<name>.parquet``; returns row counts."""
    os.makedirs(out, exist_ok=True)
    counts = {}
    for name, table in generate(seed).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(write_tables(args.out, args.seed), sort_keys=True))


if __name__ == "__main__":
    main()
