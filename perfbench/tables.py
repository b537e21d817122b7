"""Seeded generator of the query tables: the ten TPC-H-shaped and
stream / text / vector tables the registered queries read, with the
column names and types of the repository's fixtures (``FIXTURES.md``;
timestamps are stored in microseconds, as in the fixture files),
one parquet file per table in a directory, as ``deltasink_spark.tables``
expects.

Columns are drawn independently and uniformly (keys within their
parent table's range), as in the fixtures. Row counts scale with
``sf`` like the fixtures': 6,000,000 line items per unit of scale.
The same (seed, sf) always gives the same files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
WORDS = ("a agg batch big column customer data dup fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector window").split()
ORDER_DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2_404  # to 2001-08-01
SHIP_DAY0 = dt.datetime(1995, 1, 2)
SHIP_DAYS = 2_498  # to 2001-11-04
EVENTS_T0 = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86_400


def _money(rng, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def _days(rng, day0: dt.datetime, days: int, n: int) -> pa.Array:
    us = int(day0.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6
    return pa.array(us + rng.integers(0, days, n) * 86_400 * 10**6, pa.int64()).cast(pa.timestamp("us"))


def _pick(rng, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist(), pa.string())


def _documents(rng, n: int) -> list[str]:
    """Random texts; one in ten repeats an earlier one with one word
    changed, so that near-duplicate detection has something to find."""
    docs: list[list[str]] = []
    for i in range(n):
        if i and rng.random() < 0.1:
            words = list(docs[int(rng.integers(0, i))])
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 100))).tolist()]
        docs.append(words)
    return [" ".join(w) for w in docs]


def generate(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write the ten tables into ``out_dir``; returns rows per table."""
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = n_vecs = 500
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9_999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9_999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                zip(rng.integers(0, 8, n_part).tolist(), rng.integers(0, 8, n_part).tolist())],
                               pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()], pa.string()),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": _money(rng, 900.0, 999.9, n_part),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1_000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, ORDER_DAY0, ORDER_DAYS, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), pa.float64()),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _days(rng, SHIP_DAY0, SHIP_DAYS, n_line),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                int(EVENTS_T0.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6
                + np.sort(rng.integers(0, EVENTS_SPAN_S * 10**6, n_ev)), pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": _money(rng, 0.0, 330.0, n_ev),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()], pa.string()),
        }),
        "documents": pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(_documents(rng, n_docs), pa.string()),
            "lang": _pick(rng, LANGS, n_docs),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs).tolist()], pa.string()),
            "n_chars": pa.array(rng.integers(48, 554, n_docs), pa.int64()),
        }),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(rng.normal(0.0, 0.126, (n_vecs, 64)).astype(np.float32)),
                                  pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
