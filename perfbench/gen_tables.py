"""Seeded generator of the parquet tables the gate queries read.

Writes `orders`, `lineitem` and `documents` with the schemas and value
distributions of the repository's TPC-H-like test tables, at a scale
factor `sf` (orders = 1 500 000 x sf, about 4 line items per order,
documents = 50 000 x sf). Suppliers are 10 000 x sf but at least 100, the
count at sf 0.01: a customer's line items then reach as many distinct
suppliers as at sf 0.01 (median about 33), so the 25-core q189_kcore_peel
computes stays non-empty at small scales. Documents are bags of words from a 30-word
vocabulary; about 5% of them copy an earlier document and append the
word "dup", so the dedup routes find near-duplicate families.

The same (seed, sf) always gives the same bytes.

Usage: python3 gen_tables.py <seed> <sf> <out_dir>
"""
import datetime
import hashlib
import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en"] * 3 + ["es", "zh", "de", "fr"]
EPOCH = datetime.datetime(1995, 1, 1)
TABLES = ("orders", "lineitem", "documents")


def _days(rng, n, span):
    return [EPOCH + datetime.timedelta(days=rng.randrange(span)) for _ in range(n)]


def _orders(rng, sf):
    n = int(1_500_000 * sf)
    customers = max(1, int(150_000 * sf))
    return pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.choices(range(customers), k=n), pa.int64()),
        "o_orderstatus": pa.array(rng.choices("OFP", k=n), pa.string()),
        "o_totalprice": pa.array([rng.randrange(100_191, 49_999_318) / 100 for _ in range(n)],
                                 pa.float64()),
        "o_orderdate": pa.array(_days(rng, n, 2404), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choices(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], k=n), pa.string()),
    })


def _lineitem(rng, sf, n_orders):
    parts, supps = max(1, int(200_000 * sf)), max(100, int(10_000 * sf))
    per_order = rng.choices(range(1, 8), k=n_orders)
    okey = [o for o, k in enumerate(per_order) for _ in range(k)]
    lno = [i + 1 for k in per_order for i in range(k)]
    n = len(okey)
    qty = [float(q) for q in rng.choices(range(1, 51), k=n)]
    return pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.choices(range(parts), k=n), pa.int64()),
        "l_suppkey": pa.array(rng.choices(range(supps), k=n), pa.int64()),
        "l_linenumber": pa.array(lno, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array([q * rng.randrange(90_000, 210_000) / 100 for q in qty],
                                    pa.float64()),
        "l_discount": pa.array([d / 100 for d in rng.choices(range(11), k=n)], pa.float64()),
        "l_tax": pa.array([t / 100 for t in rng.choices(range(9), k=n)], pa.float64()),
        "l_returnflag": pa.array(rng.choices("ANR", k=n), pa.string()),
        "l_linestatus": pa.array(rng.choices("FO", k=n), pa.string()),
        "l_shipdate": pa.array(_days(rng, n, 2500), pa.timestamp("us")),
    })


def _documents(rng, sf):
    n = max(2, int(50_000 * sf))
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choices(WORDS, k=rng.randrange(10, 101))))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choices(LANGS, k=n), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir, seed, sf):
    """Writes the tables under `out_dir`; returns their row counts, total
    bytes and a hash over all files."""
    rng = random.Random(f"tables:{seed}")
    orders = _orders(rng, sf)
    tables = {"orders": orders,
              "lineitem": _lineitem(rng, sf, orders.num_rows),
              "documents": _documents(rng, sf)}
    os.makedirs(out_dir, exist_ok=True)
    digest = hashlib.sha256()
    tally = {"rows": {}, "bytes": 0}
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path)
        with open(path, "rb") as f:
            data = f.read()
        digest.update(data)
        tally["rows"][name] = tables[name].num_rows
        tally["bytes"] += len(data)
    tally["sha256"] = digest.hexdigest()
    return tally


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    print(json.dumps(generate(sys.argv[3], int(sys.argv[1]), float(sys.argv[2]))))
