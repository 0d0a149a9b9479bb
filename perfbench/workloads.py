"""Workload definitions: the ops each workload runs and how each op's
output is checked.

* ``dsl_literals`` — ``transform`` over seeded nested Python literals
  followed by ``collect_nested``, checked against a pure-Python result.
* ``relational``   — scan/join/window/shuffle-heavy registry queries
  that use no DSL, checked against their DuckDB oracle
  (``all_oracles()``) by canonical row sets, as the project's oracle
  tests compare them.
"""

from __future__ import annotations

import collections
import datetime
import decimal
import math
import os
import random

RELATIONAL = [
    "tpch_q1_pricing", "tpch_q3_shipping", "tpch_q5_local_volume",
    "tpch_q18_large_orders", "win_top_orders_per_cust", "asof_join_events",
    "user_rfm_segments", "stream_window_counts", "stream_session_agg",
]
LITERAL_OPS = [
    "store_sets", "invert_products", "swap_keys", "event_rollup",
    "tag_counts",
]

WORKLOADS = {
    "dsl_literals": {"ops": LITERAL_OPS, "tables": []},
    "relational": {
        "ops": RELATIONAL,
        "tables": ["lineitem", "orders", "customer", "nation", "region",
                   "supplier", "events"],
    },
}


# ------------------------------------------------------------ row checks


def canon(value):
    """Canonicalize a cell for cross-engine comparison."""
    if isinstance(value, decimal.Decimal):
        value = float(value)
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else round(value, 9)
    if isinstance(value, datetime.datetime):
        return value.replace(tzinfo=None).isoformat()
    if isinstance(value, datetime.date):
        return str(value)
    if isinstance(value, (list, tuple)):
        return tuple(canon(v) for v in value)
    if isinstance(value, dict):
        return tuple(sorted((k, canon(v)) for k, v in value.items()))
    if isinstance(value, bytearray):
        return bytes(value)
    return value


def rowset(cols, rows) -> tuple:
    """(sorted lower-cased column names, multiset of canonical rows)."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), collections.Counter(
        tuple(canon(r[i]) for i in order) for r in rows
    )


def oracle_rowsets(names, data_dir: str) -> dict:
    """DuckDB oracle row set per registry op, computed once per run."""
    import duckdb

    from faconne_spark.queries import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.sql(f"CREATE VIEW {f[:-8]} AS "
                        f"SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in names:
            rel = con.sql(oracles[name])
            out[name] = rowset(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


# ------------------------------------------------------ literal inputs


def literal_cases(seed: int) -> dict:
    """op -> (data, domain, range, expected) with ~2k leaves each.

    The shapes follow the reference's own examples: ``{store {aisle
    [product]}}`` maps, maps of maps, vectors of maps and sets."""
    from faconne_spark import Agg, SetOf, V

    rng = random.Random(seed)
    cases = {}

    stores = {
        f"store{s:02d}": {
            a: [f"p{rng.randrange(400):03d}" for _ in range(10)]
            for a in range(1, 11)
        }
        for s in range(20)
    }
    store_dom = {V.store: {V.aisle: [V.product]}}
    cases["store_sets"] = (
        stores, store_dom, {V.store: SetOf(V.product)},
        {s: {p for ps in aisles.values() for p in ps}
         for s, aisles in stores.items()},
    )
    inverted: dict = {}
    for s, aisles in stores.items():
        for ps in aisles.values():
            for p in ps:
                inverted.setdefault(p, set()).add(s)
    cases["invert_products"] = (
        stores, store_dom, {V.product: SetOf(V.store)}, inverted,
    )

    grid = {
        f"r{i:02d}": {f"c{j:02d}": rng.randrange(1000) for j in range(50)}
        for i in range(40)
    }
    swapped: dict = {}
    for r, row in grid.items():
        for c, v in row.items():
            swapped.setdefault(c, {})[r] = v
    cases["swap_keys"] = (
        grid, {V.k1: {V.k2: V.v}}, {V.k2: {V.k1: V.v}}, swapped,
    )

    kinds = ["add", "remove", "update", "view"]
    events = [
        {"day": f"2024-01-{rng.randrange(1, 31):02d}",
         "type": rng.choice(kinds), "amount": rng.randrange(1, 100)}
        for _ in range(2000)
    ]
    sums: dict = {}
    for e in events:
        per_day = sums.setdefault(e["day"], {})
        per_day[e["type"]] = per_day.get(e["type"], 0) + e["amount"]
    cases["event_rollup"] = (
        events,
        [{"day": V.day, "type": V.type, "amount": V.amount}],
        {V.day: {V.type: Agg("sum(amount)")}},
        sums,
    )

    tags = {
        f"user{u:03d}": set(rng.sample(range(100), 10)) for u in range(200)
    }
    counts: dict = {}
    for ts in tags.values():
        for t in ts:
            counts[t] = counts.get(t, 0) + 1
    cases["tag_counts"] = (
        tags, {V.user: [V.tag]}, {V.tag: Agg("count(distinct user)")},
        counts,
    )
    return cases
