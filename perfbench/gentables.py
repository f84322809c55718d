"""Seeded star-schema, document and embedding tables for the reports workload.

Writes `<name>.parquet` for region, nation, customer, supplier, part,
orders, lineitem, documents and embeddings into one directory, with the
column names and types of the repository's test data (TESTDATA.md), at
about a tenth of sf0.01:

- lineitem 6,000 rows over 1,500 orders of 150 customers, 20 suppliers,
  200 parts; uniform flags, dates 1995-2001;
- documents 400 texts of 10-90 words from a 30-word vocabulary, five
  languages, 20 sources, every 20th a near-copy of an earlier one;
- embeddings 400 random unit vectors of 64 floats, labels 0-9.

The queries' expected outputs come from the DuckDB oracle SQL on these
same files, so the generator needs no figures of its own.
"""

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMERS = 150
N_SUPPLIERS = 20
N_PARTS = 200
N_ORDERS = 1_500
N_LINEITEMS = 6_000
N_DOCS = 400
N_VECS = 400
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "hot", "large", "red", "small", "bolt", "ring", "nut"]
WORDS = ("a the data row column table key value query scan filter join group agg "
         "sort hash merge window batch stream spark order line part customer vector "
         "fast slow big small").split()
LANGS = ["en", "en", "en", "es", "fr", "de", "zh"]

_DAY0 = np.datetime64("1995-01-01", "us")


def _days(rnd, n, span=2500):
    return _DAY0 + rnd.integers(0, span, n).astype("timedelta64[D]")


def _money(rnd, lo, hi, n):
    return np.round(rnd.uniform(lo, hi, n), 2)


def tables(seed):
    """The tables as pyarrow Tables, keyed by name."""
    rnd = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": rnd.integers(0, 25, N_CUSTOMERS).astype(np.int32),
        "c_acctbal": _money(rnd, -999, 9999, N_CUSTOMERS),
        "c_mktsegment": rnd.choice(SEGMENTS, N_CUSTOMERS)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": rnd.integers(0, 25, N_SUPPLIERS).astype(np.int32),
        "s_acctbal": _money(rnd, -999, 9999, N_SUPPLIERS)})
    t["part"] = pa.table({
        "p_partkey": np.arange(N_PARTS, dtype=np.int64),
        "p_name": [f"{rnd.choice(PART_WORDS[:5])} {rnd.choice(PART_WORDS[5:])}"
                   for _ in range(N_PARTS)],
        "p_brand": [f"Brand#{b}" for b in rnd.integers(1, 26, N_PARTS)],
        "p_type": rnd.choice(PART_TYPES, N_PARTS),
        "p_size": rnd.integers(1, 51, N_PARTS).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(N_PARTS) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rnd.integers(0, N_CUSTOMERS, N_ORDERS).astype(np.int64),
        "o_orderstatus": rnd.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rnd, 1000, 450000, N_ORDERS),
        "o_orderdate": _days(rnd, N_ORDERS),
        "o_orderpriority": rnd.choice(PRIORITIES, N_ORDERS)})
    t["lineitem"] = pa.table({
        "l_orderkey": rnd.integers(0, N_ORDERS, N_LINEITEMS).astype(np.int64),
        "l_partkey": rnd.integers(0, N_PARTS, N_LINEITEMS).astype(np.int64),
        "l_suppkey": rnd.integers(0, N_SUPPLIERS, N_LINEITEMS).astype(np.int64),
        "l_linenumber": rnd.integers(1, 8, N_LINEITEMS).astype(np.int32),
        "l_quantity": rnd.integers(1, 51, N_LINEITEMS).astype(np.float64),
        "l_extendedprice": _money(rnd, 900, 105000, N_LINEITEMS),
        "l_discount": rnd.integers(0, 11, N_LINEITEMS) / 100.0,
        "l_tax": rnd.integers(0, 9, N_LINEITEMS) / 100.0,
        "l_returnflag": rnd.choice(["A", "N", "R"], N_LINEITEMS),
        "l_linestatus": rnd.choice(["F", "O"], N_LINEITEMS),
        "l_shipdate": _days(rnd, N_LINEITEMS)})

    texts = []
    for i in range(N_DOCS):
        if i % 20 == 19:  # near-copy of an earlier document
            words = texts[int(rnd.integers(0, i))].split()
            words[int(rnd.integers(0, len(words)))] = "dup"
        else:
            words = list(rnd.choice(WORDS, int(rnd.integers(10, 91))))
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rnd.choice(LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})

    vecs = rnd.standard_normal((N_VECS, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rnd.integers(0, 10, N_VECS).astype(np.int32)})
    return t


def write_tables(seed, out_dir):
    """Write every table as `<out_dir>/<name>.parquet`; returns row counts."""
    out_dir.mkdir(parents=True, exist_ok=True)
    counts = {}
    for name, table in tables(seed).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
        counts[name] = table.num_rows
    return counts


if __name__ == "__main__":
    import pathlib
    import sys
    print(write_tables(int(sys.argv[1]), pathlib.Path(sys.argv[2])))
