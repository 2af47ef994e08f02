#!/usr/bin/env python3
"""Deterministic TPC-H-shaped tables for the catalog workloads.

Writes region, nation, customer, supplier, part, orders and lineitem as one
parquet file each. They reproduce, value for value, the seed-42 tables the
repository's own bench and oracle tests read (TESTDATA.md, FIXTURES.md §2):
the same draws from numpy's default_rng(42) in the same order, the same
value lists in the same order, and the same column types (timestamps as
parquet TIMESTAMP(us, not adjusted to UTC)). The benchmark generates them
because it may read nothing outside its checkout; `same_tables.py` shows
that every column equals the repository's tables at sf0.001, sf0.01 and
sf0.1. The same sf gives the same values on every run, so stored result
digests stay valid.

Usage: python3 perfbench/gen_tpch.py <sf> <out_dir>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def days_between(rng, n, lo, hi):
    """n timestamps (midnight) drawn uniformly from [lo, hi]."""
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def main():
    sf, out = float(sys.argv[1]), sys.argv[2]
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(42)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    write(out, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(rng, n_supp, -999.99, 9999.99)})
    keys = np.arange(n_part)
    write(out, "part", {
        "p_partkey": pa.array(keys, i64),
        "p_name": np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": days_between(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, n_line, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": days_between(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})


if __name__ == "__main__":
    main()
