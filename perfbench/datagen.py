"""Deterministic synthetic folder for the workbench benchmark.

Writes one parquet file per table (region nation customer supplier part
orders lineitem events documents embeddings) with the column names and
types of the project's TPC-H-ish test tables, so every pinned statement
runs unchanged. The data depends only on the scale factor: the benchmark
seed picks statement order and literals, never the data.

Usage: python3 perfbench/datagen.py <out_dir> [scale_factor]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()


def _ts(days, rng_secs=None):
    base = np.datetime64("1995-01-01T00:00:00", "us")
    out = base + days.astype("timedelta64[D]").astype("timedelta64[us]")
    if rng_secs is not None:
        out = out + rng_secs.astype("timedelta64[us]")
    return pa.array(out, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150000 * sf), max(int(10000 * sf), 10), int(200000 * sf)
    n_ord, n_ev = int(1500000 * sf), int(1000000 * sf)
    n_doc = n_vec = int(50000 * sf)

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    price = np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord)),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    # 1..7 lines per order, so (l_orderkey, l_linenumber) is a unique key
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), lines), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey] * rng.uniform(0.9, 2.3, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(1, 2499, n_li))})
    ev_secs = np.cumsum(rng.integers(1, 26 * 10**7, n_ev)) // 100  # micros
    ev_base = np.datetime64("2024-01-01T00:00:00", "us")
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_base + ev_secs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 10 and i % 10 == 0:  # near-duplicates for the dedup queries
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
            texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = (rng.standard_normal((n_vec, 64)) / 8).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events, "documents": documents,
            "embeddings": embeddings}


def generate(out_dir, sf):
    """Write the folder once; a finished folder has a `<out_dir>.done` file."""
    done = out_dir.rstrip("/") + ".done"
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write(f"sf={sf} seed={DATA_SEED}\n")


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.01)
