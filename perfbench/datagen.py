"""Deterministic star-schema generator for the benchmark's input tables.

Writes region, nation, customer, supplier, part, orders and lineitem as one
parquet file each, with the column names, types and value ranges the
engine's registry and its DuckDB oracles expect (TPC-H-like: uniform keys,
integer quantities, two-decimal discounts). The same (sf, seed) always
gives byte-identical tables.

Usage: python3 perfbench/datagen.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPE = ["SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY", "STANDARD"]
REGION = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENT = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
US_PER_DAY = 86_400_000_000
EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _ts(days):
    return pa.array((EPOCH_1995 + days) * US_PER_DAY, pa.timestamp("us"))


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(lo * 100, hi * 100, n) / 100.0, 2)


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_supp, n_part = int(10_000 * sf), int(200_000 * sf)
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGION})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})

    ck = np.arange(n_cust, dtype=np.int64)
    yield "customer", pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999, 9999, n_cust),
        "c_mktsegment": np.array(SEGMENT)[rng.integers(0, 5, n_cust)]})

    sk = np.arange(n_supp, dtype=np.int64)
    yield "supplier", pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999, 9999, n_supp)})

    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
                        np.array(NOUN)[rng.integers(0, 8, n_part)])
    yield "part", pa.table({
        "p_partkey": pk,
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPE)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})

    ok = np.arange(n_ord, dtype=np.int64)
    yield "orders", pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord)),
        "o_orderpriority": np.array(PRIORITY)[rng.integers(0, 5, n_ord)]})

    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lpk = rng.integers(0, n_part, n_li)
    price = 900.0 + (lpk % 1000) / 10.0
    yield "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": lpk,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price + rng.integers(0, 100, n_li) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(1, 2499, n_li))})


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed):
        tmp = os.path.join(out_dir, f".{name}.tmp")
        pq.write_table(t, tmp, row_group_size=1 << 20)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
