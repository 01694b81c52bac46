"""Seeded synthetic inputs for the benchmark.

The engine's fixture loader (``queries.registry.t``) reads one parquet file
per table from a directory. This module writes such a directory from a seed,
with the schemas, row counts and value distributions of the fixture tables
(TESTDATA.md), so the benchmark needs nothing outside its checkout.
``scale`` is the fixtures' scale factor: 0.1 gives 150k orders, 600k line
items, 100k events and 5k documents. ``compare_fixtures.py`` checks the
generated tables against a fixture directory (FIXTURES_VS_GENERATED.md).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the fixture documents' 30-word vocabulary
WORDS = np.array((
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split())
LANGS, LANG_P = ["en", "zh", "es", "fr", "de"], [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
#: share of documents that are an exact copy of another one plus " dup"
DUP_SHARE = 0.05
N_SOURCES = 20
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_NAMES = [f"{a} {b}"
              for a in ("blue", "cold", "hot", "large", "new", "old", "red", "small")
              for b in ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values)[rng.choice(len(values), size=n, p=p)])


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` documents of 10-100 words drawn from ``WORDS``; a ``DUP_SHARE``
    of them is replaced by another document's text plus the marker word
    ``dup``, so dedup has copies to find."""
    base = [" ".join(WORDS[rng.integers(len(WORDS), size=int(k))])
            for k in rng.integers(10, 101, size=n)]
    texts = list(base)
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        j = int(rng.integers(n - 1))
        texts[i] = base[j + (j >= i)] + " dup"
    ids = np.arange(n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array(np.char.add("src", (ids % N_SOURCES).astype(str))),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` events over 30 days, ids and timestamps ascending, values
    exponential with mean 50, 15 users per thousand events."""
    ts = np.sort(rng.integers(0, 30 * _DAY_US, size=n)) + _EPOCH_2024
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(int(n * 0.015), 10), size=n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, size=n), 2),
        "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, size=n)
                                                  .astype(str)), "}")),
    })


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every fixture table the pipelines read into ``out_dir``;
    returns row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = max(int(1_500_000 * scale), 500)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 20)
    n_part = max(int(200_000 * scale), 100)
    n_li = 4 * n_orders

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, size=n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, size=n_supp), 2)})
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, PART_NAMES, n_part),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, size=n_part).astype(str))),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2)})

    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_orders), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, size=n_orders), 2),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, size=n_orders) * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders)})

    # four line items per order on average, each on an order drawn at
    # random, in no particular order (as in the fixtures)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, size=n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, size=n_li).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 105000, size=n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, size=n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, size=n_li) / 100, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, size=n_li) * _DAY_US)})

    n_events = max(int(1_000_000 * scale), 1000)
    n_docs = max(int(50_000 * scale), 50)
    pq.write_table(events(rng, n_events), os.path.join(out_dir, "events.parquet"))
    pq.write_table(documents(rng, n_docs), os.path.join(out_dir, "documents.parquet"))
    return {"orders": n_orders, "lineitem": n_li, "events": n_events, "documents": n_docs}
