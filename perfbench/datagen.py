"""Seeded input generators for the benchmark.

Everything here is numpy + pyarrow: the engine under test receives
only the files these functions write, and the same seed always gives
byte-identical tables.

- :func:`write_tpch` writes the TPC-H-ish star schema plus ``events``
  that ``sources.catalog`` and the ``plans.relational`` queries read,
  with the column names, types and value domains of the reference
  fixtures (FIXTURES.md section B).
- :func:`make_documents` builds a ``documents``-shaped corpus with
  exact and near duplicates, so dedup has work to do.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "green", "large", "steel", "brass", "tiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "spring", "valve", "nut", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a the data query spark table column row key value join group agg "
    "sort filter scan hash merge window stream batch order line part "
    "customer small big fast slow vector index shard node cache"
).split()
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
)


def _ts(days: np.ndarray, base: str) -> pa.Array:
    base_us = np.datetime64(base, "us").astype(np.int64)
    return pa.array(base_us + days.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _money6(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Six-decimal amounts for columns the queries average.

    Spark rounds a double by its shortest decimal string and DuckDB by
    its exact binary value, so the two disagree when an average lands
    exactly half-way at the rounded scale. With cents-only values that
    happens on about half of all seeds (q02, q15); four more nonzero
    decimals make it vanishingly rare. Columns that enter products
    (l_extendedprice, l_discount, l_tax) keep two decimals, because
    their products must stay within the engine's six-digit decimal.
    """
    return np.round(_money(rng, lo, hi, n) + rng.integers(1, 10_000, n) / 1e6, 6)


def _order_days(rng: np.random.Generator, n: int) -> np.ndarray:
    """Order dates over the 26 quarters 1995Q1-2001Q2 (days since
    1995-01-01), with an odd number of orders in every quarter when
    ``n`` is even: q04's quarter-over-quarter percentage then never
    lands half-way at its rounded scale."""
    starts = [
        (np.datetime64(f"{1995 + q // 4}-{3 * (q % 4) + 1:02d}-01")
         - np.datetime64("1995-01-01")).astype(int)
        for q in range(27)
    ]
    counts = rng.multinomial(n, [1 / 26] * 26)
    even = np.flatnonzero(counts % 2 == 0)
    counts[even[0:-1:2]] -= 1
    counts[even[1::2]] += 1
    days = np.concatenate([
        rng.integers(starts[q], starts[q + 1], c) for q, c in enumerate(counts)
    ])
    return rng.permutation(days)


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_evt = int(1_000_000 * sf)
    day_us = 86_400 * 1_000_000

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money6(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    order_day = _order_days(rng, n_ord)
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money6(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(order_day * day_us, "1995-01-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": _money6(rng, 1.0, 50.0, n_li),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(
            (order_day[l_order] + rng.integers(1, 122, n_li)) * day_us, "1995-01-01"
        ),
    })
    ts_us = np.sort(rng.integers(0, 30 * day_us, n_evt))
    events = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(ts_us, "2024-01-01"),
        "user_id": rng.integers(0, max(n_cust // 10, 1), n_evt).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": _money6(rng, 0.01, 490.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
    }


def write_tpch(out_dir: str, seed: int, sf: float) -> None:
    """One ``<name>.parquet`` file per table, the layout
    ``sources.catalog.load_table`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tpch_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def make_documents(seed: int, n_docs: int) -> pa.Table:
    """About a tenth of the documents repeat an earlier one exactly and
    a tenth are an earlier one with a few words appended, so both the
    exact and the MinHash near-duplicate paths find work."""
    rng = np.random.default_rng(seed)
    vocab = np.array(WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.1:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.2:
            tail = " ".join(vocab[rng.integers(0, len(vocab), 3)])
            texts.append(f"{texts[rng.integers(0, i)]} {tail}")
        else:
            n_words = int(rng.integers(20, 80))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_words)]))
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
