"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-ish star schema plus the `events` table that
`graph_database_spark.sources.testdata` loads, with the same column names,
types and row counts per scale factor as the repository's test data
(customer 150k·sf, part 200k·sf, orders 1.5M·sf, ~4 lines per order,
events 1M·sf with user ids in the first tenth of the customer keys).
The same (sf, seed) always gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL")
_ADJ = ("small", "red", "blue", "large", "steel", "green", "shiny", "plain")
_NOUN = ("ring", "widget", "bolt", "gear", "panel", "valve", "spring", "cable")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EVENTS_START = dt.datetime(2024, 1, 1)
EVENT_SPAN_S = 30 * 24 * 3600


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(10, round(150_000 * sf)),
        "part": max(10, round(200_000 * sf)),
        "supplier": max(2, round(10_000 * sf)),
        "orders": max(20, round(1_500_000 * sf)),
        "events": max(20, round(1_000_000 * sf)),
    }


def _ts_us(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    start = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return pa.array(start + offsets_us.astype(np.int64), pa.timestamp("us"))


def _choice(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def generate_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, round(sf * 1_000_000)])
    size = table_sizes(sf)
    n_cust, n_part, n_supp = size["customer"], size["part"], size["supplier"]
    n_ord, n_ev = size["orders"], size["events"]
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": _choice(rng, _SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2))})
    names = [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
             zip(rng.integers(0, len(_ADJ), n_part), rng.integers(0, len(_NOUN), n_part))]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _choice(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1 % 1100, 2))})

    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
        "o_orderdate": _ts_us(dt.datetime(1995, 1, 1), order_days * 86_400_000_000),
        "o_orderpriority": _choice(rng, _PRIORITIES, n_ord)})

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    l_lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    perm = rng.permutation(n_li)  # the test data's lineitem is not clustered by order
    qty = rng.integers(1, 51, n_li).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_lineno[perm], pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _choice(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _choice(rng, ("F", "O"), n_li),
        "l_shipdate": _ts_us(dt.datetime(1995, 1, 2),
                             rng.integers(0, 2500, n_li) * 86_400_000_000)})

    ev_offsets = np.sort(rng.integers(0, EVENT_SPAN_S * 1_000_000, n_ev))
    ks = rng.integers(0, 100, n_ev)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts_us(EVENTS_START, ev_offsets),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.uniform(0, 100, n_ev), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in ks], pa.string())})
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
