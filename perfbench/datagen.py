"""Seeded input generation for the benchmark (no Spark involved).

Everything the program under test reads is made here from ``--seed``:

- the standing warehouse: the ten fixture tables (TPC-H-shaped star schema,
  an ``events`` log, a ``documents`` corpus with planted near-duplicates and
  unit-norm ``embeddings``), with the same columns, types, key ranges and
  value distributions as the repository's test fixtures, at any scale
  factor ``sf``;
- the per-day inputs of ``pipeline_day``: the paginated REST scan's shape
  and an orders delta of updated and new keys;
- the stock-poll stream's shape.

The same seed gives byte-identical parquet files; another seed gives other
values with the same distributions, so timings stay comparable across seeds.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_VOCAB = (
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

_ORDER_LO, _ORDER_HI = np.datetime64("1995-01-01"), np.datetime64("2001-08-01")
_SHIP_LO, _SHIP_HI = np.datetime64("1995-01-02"), np.datetime64("2001-11-04")
_EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_EVENTS_SPAN_US = 30 * 86_400 * 1_000_000

# Column order and Arrow types of the orders table; the day deltas share it.
ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
])


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, stream), so adding a table or a
    day never shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts on the 0.01 grid, as the fixtures store them."""
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _days(rng: np.random.Generator, lo: np.datetime64, hi: np.datetime64, n: int) -> np.ndarray:
    span = int((hi - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _orders(rng: np.random.Generator, keys: np.ndarray, n_cust: int) -> pa.Table:
    n = len(keys)
    return pa.Table.from_arrays(
        [
            pa.array(keys, pa.int64()),
            pa.array(rng.integers(0, n_cust, n), pa.int64()),
            pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
            pa.array(_money(rng, 1000.0, 500_000.0, n)),
            pa.array(_days(rng, _ORDER_LO, _ORDER_HI, n), pa.timestamp("us")),
            pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n)]),
        ],
        schema=ORDERS_SCHEMA,
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_words = rng.integers(10, 101, n)
    words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), int(n_words.sum()))]
    texts, at = [], 0
    for k in n_words:
        texts.append(" ".join(words[at:at + k]))
        at += k
    # planted near-duplicates: 5% of documents are another document + " dup"
    for i, j in zip(rng.choice(n, n // 20, replace=False), rng.integers(0, n, n // 20)):
        if i != j:
            texts[i] = texts[j] + " dup"
    ids = np.arange(n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def fixture_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten standing warehouse tables at scale factor ``sf``."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vec = int(15_000 * sf), max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n_cust)],
    })
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })
    r = _rng(seed, "part")
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(np.array(_ADJ)[r.integers(0, 8, n_part)], " "),
                              np.array(_NOUN)[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PTYPES)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    out["orders"] = _orders(_rng(seed, "orders"), np.arange(n_ord), n_cust)
    r = _rng(seed, "lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(r, _SHIP_LO, _SHIP_HI, n_li), pa.timestamp("us")),
    })
    r = _rng(seed, "events")
    ts = _EVENTS_T0 + np.sort(r.integers(0, _EVENTS_SPAN_US, n_ev)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(_rng(seed, "documents"), n_docs)
    r = _rng(seed, "embeddings")
    v = r.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vec), pa.int32()),
    })
    return out


def write_table(table: pa.Table, path: str) -> None:
    """One single-row-group snappy parquet file, like the fixtures."""
    pq.write_table(table, path, compression="snappy", row_group_size=max(1, table.num_rows))


def write_fixture(out_dir: str, sf: float, seed: int) -> None:
    """Write the standing warehouse as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables(sf, seed).items():
        write_table(table, os.path.join(out_dir, f"{name}.parquet"))


@dataclass(frozen=True)
class DayPlan:
    """Shape of one simulated day's ingest."""

    day: int
    page_size: int
    pages: int
    total_rows: int
    n_updates: int
    n_noop_updates: int
    n_new: int


def day_plan(seed: int, day: int, pages: int, page_size: int, delta_rows: int) -> DayPlan:
    """The day's REST scan (``pages`` pages of about ``page_size`` records,
    the last one partial) and orders-delta split: 60% updates of existing
    keys, a fifth of which rewrite identical values, and 40% new keys."""
    r = _rng(seed, f"day{day}")
    size = int(r.integers(page_size - page_size // 10, page_size + page_size // 10 + 1))
    total = pages * size - int(r.integers(0, size // 2))
    n_upd = delta_rows * 3 // 5
    return DayPlan(day, size, pages, total, n_upd, n_upd // 5, delta_rows - n_upd)


def orders_delta(base: pa.Table, plan: DayPlan, seed: int, n_cust: int, next_key: int) -> pa.Table:
    """The day's orders delta against the current ``base`` table: updated
    existing keys (some rewriting identical values) plus ``plan.n_new`` new
    keys starting at ``next_key``."""
    r = _rng(seed, f"delta{plan.day}")
    picked = base.take(pa.array(r.choice(base.num_rows, plan.n_updates, replace=False)))
    fresh = _orders(r, picked["o_orderkey"].to_numpy(), n_cust)
    # the no-op share keeps the current values; the rest gets new
    # status/price/priority while key, customer and date stay
    changed = fresh.slice(plan.n_noop_updates)
    updates = pa.concat_tables([
        picked.slice(0, plan.n_noop_updates),
        pa.Table.from_arrays(
            [picked.column(c).slice(plan.n_noop_updates) if c in ("o_orderkey", "o_custkey", "o_orderdate")
             else changed.column(c) for c in ORDERS_SCHEMA.names],
            schema=ORDERS_SCHEMA,
        ),
    ])
    new = _orders(r, np.arange(next_key, next_key + plan.n_new), n_cust)
    return pa.concat_tables([updates, new])


def stock_shape(seed: int, n_keys: int) -> tuple[int, int]:
    """(n_events, n_theaters) of the stock-poll stream, with about
    ``n_keys`` keys; the split varies by seed."""
    n_theaters = int(_rng(seed, "stock").integers(8, 13))
    return max(1, round(n_keys / n_theaters)), n_theaters
