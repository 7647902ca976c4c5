"""Seeded input generation for the benchmark workloads.

Everything the program receives is made here from the workload seed:
the ticker universe the pipeline extracts, the history preloaded into the
incremental workload's warehouse, and the TPC-H-ish parquet tables the
query suite reads. The same seed always gives the same inputs.

The query tables follow the column names, types and value ranges of the
registry's fixture tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings), because several
registry queries filter on fixed literals (event dates in January 2024,
order dates in 1995-2001).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EXCHANGES = ("NASDAQ", "NYSE")


def universe(seed: int, n: int) -> list[tuple[str, str, str]]:
    """``n`` distinct (Company, Symbol, Exchange) rows, sorted by symbol."""
    rng = random.Random(f"universe:{seed}")
    symbols: set[str] = set()
    while len(symbols) < n:
        symbols.add("".join(rng.choices(string.ascii_uppercase, k=rng.choice((3, 4)))))
    return [
        (f"{s.title()} Holdings", s, rng.choice(EXCHANGES)) for s in sorted(symbols)
    ]


def trading_days(start: dt.date, end: dt.date) -> list[dt.date]:
    """Weekdays in ``[start, end]`` — the bar calendar of the source."""
    days = []
    d = start
    while d <= end:
        if d.weekday() < 5:
            days.append(d)
        d += dt.timedelta(days=1)
    return days


def history_table(
    seed: int, rows: list[tuple[str, str, str]], start: dt.date, end: dt.date
) -> pa.Table:
    """Daily bars in the warehouse's ``stock_bars`` schema for every
    ticker and trading day in ``[start, end]``: a seeded geometric random
    walk per ticker, stamped 04:00 UTC like the source's bars."""
    rng = np.random.default_rng([seed, 1])
    days = trading_days(start, end)
    n_days = len(days)
    # naive values, read as UTC by the timestamp type below
    ts = np.array([dt.datetime(d.year, d.month, d.day, 4) for d in days], dtype="datetime64[us]")
    cols: dict[str, list] = {k: [] for k in (
        "stock", "company", "timestamp", "open", "high", "low", "close",
        "volume", "volume_weighted_avg_price", "number_of_trades",
    )}
    for company, symbol, _exchange in rows:
        base = rng.uniform(20.0, 1000.0)
        drift = rng.uniform(-0.03, 0.03, n_days)
        close = np.round(base * np.cumprod(1 + drift), 4)
        open_ = np.round(np.concatenate(([base], close[:-1])), 4)
        spread = np.abs(drift) + 0.005
        high = np.round(np.maximum(open_, close) * (1 + spread * rng.random(n_days)), 4)
        low = np.round(np.minimum(open_, close) * (1 - spread * rng.random(n_days)), 4)
        cols["stock"].append(np.full(n_days, symbol, dtype=object))
        cols["company"].append(np.full(n_days, company, dtype=object))
        cols["timestamp"].append(ts)
        cols["open"].append(open_)
        cols["high"].append(high)
        cols["low"].append(low)
        cols["close"].append(close)
        cols["volume"].append(rng.integers(100_000, 10_100_000, n_days))
        cols["volume_weighted_avg_price"].append(np.round((high + low + close) / 3, 4))
        cols["number_of_trades"].append(rng.integers(1_000, 101_000, n_days))
    types = {
        "stock": pa.string(),
        "company": pa.string(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "volume": pa.int64(),
        "number_of_trades": pa.int64(),
    }
    return pa.table({
        k: pa.array(np.concatenate(v), type=types.get(k, pa.float64()))
        for k, v in cols.items()
    })


# -- query-suite tables ------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, span, n) * np.timedelta64(1, "D")


def query_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten query-suite tables at scale factor ``sf`` (0.01 gives
    60 000 lineitem rows)."""
    rng = np.random.default_rng([seed, 2])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(500, int(1_000_000 * sf))
    n_users = max(10, n_ev * 3 // 200)
    n_docs = 500 if sf <= 0.01 else int(50_000 * sf)
    n_vecs = 500 if sf <= 0.01 else int(20_000 * sf)

    def pick(values, n):
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    i32 = pa.int32()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), i32),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(_SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part),
            "p_name": pa.array([
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": pick(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": pick(("F", "O", "P"), n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
            "o_orderpriority": pick(_PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": pick(("A", "N", "R"), n_line),
            "l_linestatus": pick(("F", "O"), n_line),
            "l_shipdate": _days(rng, "1995-01-02", 2500, n_line),
        }),
    }

    span_us = 30 * 86_400_000_000
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, span_us, n_ev)
    ).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev),
        "ts": ev_ts,
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": pick(_EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
    })

    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")  # near-duplicate
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), n_words)]))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(_LANGS)[
            rng.choice(5, n_docs, p=(0.44, 0.14, 0.14, 0.14, 0.14))
        ].tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32),
    })
    return tables


def write_query_tables(seed: int, sf: float, out_dir: str) -> str:
    """Write :func:`query_tables` as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in query_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
