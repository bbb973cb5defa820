"""Seeded input generator for the lakehouse benchmark.

Writes sf0.1-shaped parquet tables with the fixture schemas (FIXTURES.md)
under an output directory. The same seed always gives byte-identical
values; only the workload's own tables are written.

  olap-scan     region nation customer supplier part orders lineitem,
                one parquet file each (one row group, like the fixtures)
  table-ops     orders_cow/ and orders_mor/: two copies of orders split by
                key range into 4 files each; orders.parquet, the untouched
                copy the correctness reference starts from; and ev/:
                EV_FILES small files of EV_ROWS rows each, clustered by id so
                that a point read prunes to one file
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
           "orders": 150_000, "lineitem": 600_000}

EV_FILES = 200
EV_ROWS = 100

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def dates(rng, n, days):
    return pa.array((EPOCH_1995 + rng.integers(0, days, n)) * DAY_US,
                    type=pa.timestamp("us"))


def pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    type=pa.string())


def orders(rng, scale=1.0):
    n = rows("orders", scale)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, rows("customer", scale), n, dtype=np.int64)),
        "o_orderstatus": pick(rng, ["O", "F", "P"], n),
        "o_totalprice": pa.array(money(rng, 1000, 500000, n)),
        "o_orderdate": dates(rng, n, 2405),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], n),
    })


def rows(table, scale):
    return max(10, int(SF_ROWS[table] * scale))


def star(rng, scale=1.0):
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    nc, ns, npart, nl = (rows(t, scale) for t in ("customer", "supplier", "part", "lineitem"))
    words = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
    nouns = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "rod"]
    tables = {
        "region": pa.table({
            "r_regionkey": i32(range(5)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)])}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": i32(rng.integers(0, 25, nc)),
            "c_acctbal": pa.array(money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pick(rng, ["FURNITURE", "MACHINERY", "AUTOMOBILE",
                                       "BUILDING", "HOUSEHOLD"], nc)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": i32(rng.integers(0, 25, ns)),
            "s_acctbal": pa.array(money(rng, -999.99, 9999.99, ns))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
            "p_name": pa.array([f"{words[rng.integers(8)]} {nouns[rng.integers(8)]}"
                                for _ in range(npart)]),
            "p_brand": pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
            "p_type": pick(rng, ["LARGE", "ECONOMY", "SMALL", "STANDARD",
                                 "MEDIUM", "PROMO"], npart),
            "p_size": i32(rng.integers(1, 51, npart)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) / 10.0, 2))}),
        "orders": orders(rng, scale),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, rows("orders", scale), nl, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
            "l_linenumber": i32(rng.integers(1, 8, nl)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(money(rng, 900, 105000, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pick(rng, ["N", "A", "R"], nl),
            "l_linestatus": pick(rng, ["O", "F"], nl),
            "l_shipdate": dates(rng, nl, 2499)}),
    }
    return tables


def write_split(table, out_dir, parts):
    os.makedirs(out_dir)
    step = -(-table.num_rows // parts)
    for p in range(parts):
        pq.write_table(table.slice(p * step, step), f"{out_dir}/part-{p:05d}.parquet")


def generate(workload, seed, out, scale=1.0):
    """Write the workload's tables; `scale` shrinks olap-scan's row counts
    (the build's class-recording run uses a tiny copy)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    if workload == "olap-scan":
        for name, table in star(rng, scale).items():
            pq.write_table(table, f"{out}/{name}.parquet")
    elif workload == "table-ops":
        table = orders(rng)
        pq.write_table(table, f"{out}/orders.parquet")
        write_split(table, f"{out}/orders_cow", 4)
        shutil.copytree(f"{out}/orders_cow", f"{out}/orders_mor")
        # v and kind follow the formulas CatalogMeta (Workloads.scala) checks
        os.makedirs(f"{out}/ev")
        kinds = np.asarray(["click", "view", "buy", "share"], dtype=object)
        salt = seed % 1_000_003
        for f in range(EV_FILES):
            ids = np.arange(f * EV_ROWS, (f + 1) * EV_ROWS, dtype=np.int64)
            pq.write_table(pa.table({
                "id": pa.array(ids),
                "v": pa.array((ids * 7919 + salt) % 1_000_003),
                "kind": pa.array(kinds[ids % 4], type=pa.string()),
            }), f"{out}/ev/part-{f:05d}.parquet")
    else:
        raise ValueError(f"unknown workload {workload}")
