"""Seeded inputs for the `olap_mix` workload.

Writes the eight analyst tables (`region nation customer supplier part
orders lineitem events`) as one parquet file each, with the schemas and
value domains of the package's testdata: uniform keys and measures,
two-decimal money, TPC-H-style categorical domains, and an `events`
stream over January 2024 ordered by `event_id`. The seed picks every
value, the row order of each table, and a key offset added to the
order/part/customer/supplier keys, so two seeds share no key layout
while every DuckDB oracle still applies (keys stay unique, domains stay
intact).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at sf=1 (the package testdata's sf0.1 is 1/10 of this)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400_000_000


def _days(rng, n: int, first: str, last: str) -> pa.Array:
    """Uniform midnight timestamps in [first, last]."""
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * _DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _shuffled(rng, t: pa.Table) -> pa.Table:
    return t.take(pa.array(rng.permutation(t.num_rows)))


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.Generator(np.random.PCG64(seed))
    n = {k: max(1, int(v * sf)) for k, v in ROWS_PER_SF.items()}
    off = int(rng.integers(0, 50)) * 1_000_000
    cust = np.arange(n["customer"], dtype=np.int64) + off
    supp = np.arange(n["supplier"], dtype=np.int64) + off
    part = np.arange(n["part"], dtype=np.int64) + off
    orders = np.arange(n["orders"], dtype=np.int64) + off

    t = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": cust,
                "c_name": [f"Customer#{k:09d}" for k in cust],
                "c_nationkey": pa.array(rng.integers(0, 25, len(cust)), pa.int32()),
                "c_acctbal": _money(rng, len(cust), -999.99, 9999.99),
                "c_mktsegment": _pick(rng, SEGMENTS, len(cust)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": supp,
                "s_name": [f"Supplier#{k:09d}" for k in supp],
                "s_nationkey": pa.array(rng.integers(0, 25, len(supp)), pa.int32()),
                "s_acctbal": _money(rng, len(supp), -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": part,
                "p_name": pa.array(
                    np.char.add(
                        np.char.add(
                            np.asarray(P_ADJ)[rng.integers(0, 8, len(part))], " "
                        ),
                        np.asarray(P_NOUN)[rng.integers(0, 8, len(part))],
                    ).astype(object)
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, len(part))]
                ),
                "p_type": _pick(rng, P_TYPES, len(part)),
                "p_size": pa.array(rng.integers(1, 51, len(part)), pa.int32()),
                "p_retailprice": np.round(900.0 + (part % 1000) / 10.0, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": orders,
                "o_custkey": rng.choice(cust, len(orders)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], len(orders)),
                "o_totalprice": _money(rng, len(orders), 1000.0, 500000.0),
                "o_orderdate": _days(rng, len(orders), "1995-01-01", "2001-08-01"),
                "o_orderpriority": _pick(rng, PRIORITIES, len(orders)),
            }
        ),
    }
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.choice(orders, nl),
            "l_partkey": rng.choice(part, nl),
            "l_suppkey": rng.choice(supp, nl),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
        }
    )
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * _DAY_US, ne))
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, ne // 67), ne),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    return {
        name: (tbl if name in ("region", "nation") else _shuffled(rng, tbl))
        for name, tbl in t.items()
    }


def write(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write every table under out_dir; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in make_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows

