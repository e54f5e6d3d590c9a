"""Seeded input generators for the benchmark.

Two kinds of input, both pure functions of their arguments:

- ``catalog_spec(seed, size)``: the shape of a synthetic Hive metastore
  (database and table names, column types, partition values, and which
  tables force ``ALTER TABLE ... ADD PARTITION`` or ``MSCK REPAIR``).
  The benchmark runner builds the metastore from it.
- ``write_tables(out_dir, scale)``: the parquet star schema the queries
  read (same table names, columns and types as the program's test data),
  written from a fixed data seed so every run checks against the same
  oracle results.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- catalog

WORDS = ["acct", "bill", "cart", "claim", "click", "deal", "event", "fact",
         "fleet", "grant", "hold", "item", "lead", "ledger", "load", "map",
         "order", "pay", "plan", "quote", "rate", "refund", "route", "sale",
         "ship", "stock", "store", "task", "trip", "user", "visit", "zone"]

COLUMN_TYPES = ["INT", "BIGINT", "STRING", "DOUBLE", "BOOLEAN", "DATE",
                "TIMESTAMP", "DECIMAL(12,2)", "ARRAY<STRING>",
                "MAP<STRING,INT>", "STRUCT<a: INT, b: STRING>"]

DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

# size name -> (databases, tables per database, partitioned tables per
# database, partitions per partitioned table)
CATALOG_SIZES = {
    "smoke": (1, 6, 3, 4),
    "bench": (2, 12, 3, 16),
}


def catalog_spec(seed, size="bench"):
    """A metastore shape drawn from ``seed``.

    The seed picks names, column types, partition values, and which
    tables are partitioned or Hive-format; the amount of work stays the
    same for every seed. In each database one table in eight is a
    Hive-format table rather than a datasource table, and the
    partitioned tables cycle through three restore kinds: ``add``
    (uppercase partition values, so the extractor must emit one ADD
    PARTITION line per partition), ``msck`` (one
    ``__HIVE_DEFAULT_PARTITION__`` value, which forces MSCK) and
    ``plain`` (lowercase values; MSCK under the default config).
    """
    n_db, n_tab, n_part_tab, n_parts = CATALOG_SIZES[size]
    rng = random.Random(seed)
    kinds = ["add", "msck", "plain"]
    dbs = []
    for d in range(n_db):
        db = f"pb_{rng.choice(WORDS)}_{d}"
        names = set()
        while len(names) < n_tab:
            names.add(f"{rng.choice(WORDS)}_{rng.choice(WORDS)}_{rng.randrange(1000):03d}")
        order = list(range(n_tab))
        rng.shuffle(order)
        partitioned = order[:n_part_tab]
        hive = set(order[n_part_tab:n_part_tab + n_tab // 8])
        tables = []
        for i, name in enumerate(sorted(names)):
            cols = [(f"c{j}_{rng.choice(WORDS)}", rng.choice(COLUMN_TYPES))
                    for j in range(3 + i % 7)]
            t = {"name": name, "columns": cols, "format": "hive" if i in hive else "parquet",
                 "partition_columns": [], "partitions": [], "restore": "none"}
            if i in partitioned:
                k = partitioned.index(i)
                kind = kinds[k % len(kinds)]
                pcols = ["ds", "region"] if k % 2 == 0 else ["ds"]
                specs = set()
                while len(specs) < n_parts:
                    day = f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
                    if len(pcols) == 1:
                        spec = ("Q" + day,) if kind == "add" else (day,)
                    else:
                        region = rng.choice(["east", "west", "north", "south"])
                        spec = (day, region.capitalize() if kind == "add" else region)
                    specs.add(spec)
                specs = sorted(specs)
                if kind == "msck":
                    specs[0] = (DEFAULT_PARTITION,) + specs[0][1:]
                t.update(partition_columns=pcols, partitions=[list(s) for s in specs],
                         restore=kind)
            tables.append(t)
        dbs.append({"name": db, "tables": tables})
    return {"seed": seed, "size": size, "databases": dbs}


def write_catalog_spec(path, seed, size="bench"):
    spec = catalog_spec(seed, size)
    with open(path, "w") as f:
        json.dump(spec, f, sort_keys=True)
    return spec


# ---------------------------------------------------------------- tables

# Fixed data seed: the query workloads' run seed only orders the queries,
# so the oracle results are the same for every run.
DATA_SEED = 20240101

TEXT_VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer",
              "filter", "small", "slow", "merge", "order", "vector", "line",
              "data", "table", "agg", "value", "key", "stream", "window", "a",
              "spark", "part", "group", "big", "sort", "query", "fast", "the"]


def _ts_ms(days_since_1995):
    base = np.datetime64("1995-01-01", "ms")
    return pa.array(base + days_since_1995.astype("timedelta64[D]"),
                    type=pa.timestamp("ms"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir, scale=1.0, documents=500):
    """The star schema at ``scale`` x the smallest test size (6,000
    lineitem rows), plus ``documents`` text documents."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150 * scale), max(10, int(10 * scale)), int(200 * scale)
    n_orders = int(1500 * scale)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("supplier", {"s_suppkey": pa.array(range(n_supp), pa.int64()),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                     "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    put("customer", {"c_custkey": pa.array(range(n_cust), pa.int64()),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                     "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                     "c_mktsegment": [segments[i] for i in rng.integers(0, 5, n_cust)]})
    adj = ["small", "red", "blue", "hot", "cold", "old", "new", "green"]
    noun = ["widget", "bolt", "gear", "gizmo", "ring", "anvil", "valve", "spring"]
    types = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
    put("part", {"p_partkey": pa.array(range(n_part), pa.int64()),
                 "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                 "p_type": [types[t] for t in rng.integers(0, 6, n_part)],
                 "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                 "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})

    order_days = rng.integers(0, 2400, n_orders)
    put("orders", {"o_orderkey": pa.array(range(n_orders), pa.int64()),
                   "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
                   "o_orderstatus": [["F", "O", "P"][s] for s in rng.integers(0, 3, n_orders)],
                   "o_totalprice": _money(rng, 1000, 500000, n_orders),
                   "o_orderdate": _ts_ms(order_days),
                   "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                        "5-LOW"][p] for p in rng.integers(0, 5, n_orders)]})
    lines_per = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines_per)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(float)
    pkey = rng.integers(0, n_part, n_li)
    put("lineitem", {"l_orderkey": pa.array(l_order, pa.int64()),
                     "l_partkey": pa.array(pkey, pa.int64()),
                     "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                     "l_linenumber": pa.array(l_num, pa.int32()),
                     "l_quantity": qty,
                     "l_extendedprice": np.round(qty * (900 + (pkey % 1000) / 10.0), 2),
                     "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
                     "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
                     "l_returnflag": [["A", "N", "R"][f] for f in rng.integers(0, 3, n_li)],
                     "l_linestatus": [["F", "O"][s] for s in rng.integers(0, 2, n_li)],
                     "l_shipdate": _ts_ms(order_days[l_order] + rng.integers(1, 122, n_li))})

    n_events = int(1000 * scale)
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    put("events", {"event_id": pa.array(range(n_events), pa.int64()),
                   "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
                                  type=pa.timestamp("us")),
                   "user_id": pa.array(rng.integers(0, max(15, int(15 * scale)), n_events), pa.int64()),
                   "event_type": [["view", "click", "purchase", "signup", "error"][e]
                                  for e in rng.integers(0, 5, n_events)],
                   "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    texts = []
    for i in range(documents):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(TEXT_VOCAB[w] for w in
                                  rng.integers(0, len(TEXT_VOCAB), int(rng.integers(8, 91)))))
    put("documents", {"doc_id": pa.array(range(documents), pa.int64()),
                      "text": texts,
                      "lang": [["en", "en", "es", "de", "fr", "zh"][x]
                               for x in rng.integers(0, 6, documents)],
                      "source": [f"src{i % 20}" for i in range(documents)],
                      "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    n_vec = documents
    vecs = rng.normal(0, 0.13, (n_vec, 64)).astype(np.float32)
    put("embeddings", {"vec_id": pa.array(range(n_vec), pa.int64()),
                       "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                       "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
