"""Writes the benchmark's input tables: a TPC-H-like star schema plus the
events, documents and embeddings tables, as one parquet file each.

The tables are a pure function of the scale factor and seed 42, so every
checkout rebuilds byte-for-byte the same values. The draw order is the
one the repository's test data was generated with (see TESTDATA.md), so
sf=0.1 reproduces the repository's sf0.1 set value for value.

Usage: python3 gen_data.py <scale_factor> <out_dir>
"""
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
EPOCH = np.datetime64("1995-01-01")


def tables(sf):
    rng = np.random.default_rng(SEED)
    days = lambda d: (EPOCH + d.astype("timedelta64[D]")).astype("datetime64[us]")
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    out = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
    }

    n = int(150_000 * sf)
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n),
        "c_mktsegment": rng.choice(
            ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"], n)})
    n_cust = n

    n = int(10_000 * sf)
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n)})
    n_supp = n

    n = int(200_000 * sf)
    adj = rng.choice(["red", "blue", "small", "large", "hot", "cold", "old", "new"], n)
    noun = rng.choice(["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"], n)
    pk = np.arange(n)
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2)})
    n_part = n

    n = int(1_500_000 * sf)
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n),
        "o_custkey": rng.integers(0, n_cust, n),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": money(1000, 500000, n),
        "o_orderdate": days(rng.integers(0, 2405, n)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)})
    n_orders = n

    n = int(6_000_000 * sf)
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(900, 105000, n),
        "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": days(rng.integers(1, 2500, n))})

    n = int(1_000_000 * sf)
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n),
        "ts": np.datetime64("2024-01-01", "us")
              + ((secs * 1e9).astype(np.int64) // 1000).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(n_cust // 10, 1), n),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n),
        "value": np.round(rng.exponential(50, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    n = max(500, int(50_000 * sf))
    vocab = ["the", "a", "spark", "query", "table", "join", "group", "filter",
             "window", "data", "order", "customer", "part", "line", "fast",
             "slow", "big", "small", "hash", "sort", "merge", "scan", "agg",
             "stream", "batch", "vector", "key", "value", "row", "column"]
    texts = [" ".join(rng.choice(vocab, rng.integers(10, 100))) for _ in range(n)]
    # One document in twenty is a copy of another plus a marker word; the
    # copies are applied in order, so a copy of a copy carries two markers.
    n_dup = n // 20
    targets = rng.choice(n, n_dup, replace=False)
    for t, s in zip(targets, rng.integers(0, n, n_dup)):
        texts[t] = texts[s] + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "fr", "es", "zh"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    n = max(500, int(20_000 * sf))
    e = rng.standard_normal((n, 64)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n),
        "embedding": list(e),
        "label": rng.integers(0, 10, n).astype(np.int32)})
    return out


def main():
    sf, out_dir = float(sys.argv[1]), sys.argv[2]
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(sf).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       coerce_timestamps="us")


if __name__ == "__main__":
    main()
