"""Seeded input generator for the lakehouse benchmark.

Every table is built with numpy from one ``numpy.random.PCG64`` stream
per (seed, purpose) and written with pyarrow, so the same seed gives
byte-identical parquet files. Three input sets exist:

- ``star_tables``: the star schema plus the events/documents/embeddings
  tables the headline queries read, with the row counts and value
  ranges of the project's test data at the same scale factor.
- ``medallion_source``: an ``orders`` file in which a few percent of the
  keys are re-sent later with other values, so silver dedup has work.
- ``cdc_stream``: a month-partitioned ``orders`` seed, its daily revenue
  aggregate, and a stream of batches (appends past the watermark plus a
  replay of the previous batch, key updates skewed toward recent
  months, and the matching aggregate delta).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1970, 1, 1)
ORDER_DAY0 = dt.date(1995, 1, 1)
ORDER_DAYS = (dt.date(2001, 8, 1) - ORDER_DAY0).days + 1
SHIP_DAY0 = dt.date(1995, 1, 2)
SHIP_DAYS = (dt.date(2001, 11, 4) - SHIP_DAY0).days + 1

STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = np.array(["blue", "cold", "hot", "large", "new"])
PART_NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split()
)

CDC_SEED_DAYS = 730  # the CDC seed holds the last two years of orders (25 month partitions)
CDC_APPENDS = 300  # new orders per CDC batch
CDC_REPLAY = 50  # rows of the previous batch re-sent (the watermark drops them)
CDC_UPDATES = 300  # updated keys per CDC batch
CDC_RECENCY = 0.7  # update weight decays by this factor per month of age

DUP_FRAC = 0.03  # medallion: share of keys re-sent with a later date


def _rng(seed: int, purpose: str) -> np.random.Generator:
    salt = int.from_bytes(hashlib.sha256(purpose.encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64([seed, salt]))


def _days_to_ts(days: np.ndarray, day0: dt.date) -> pa.Array:
    """Midnight TIMESTAMP(us) values ``day0 + days`` (no time zone)."""
    base = (day0 - EPOCH).days
    us = (days.astype(np.int64) + base) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _cents_to_double(cents: np.ndarray) -> np.ndarray:
    # the nearest double to each 2-decimal value: a DECIMAL(p,2) cast of
    # it returns exactly the cents again in Spark and DuckDB
    return np.round(cents / 100.0, 2)


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def file_hash(paths: list[str]) -> str:
    """sha256 over the named files' bytes, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# ---------------------------------------------------------------- orders


def _orders(rng: np.random.Generator, n: int, n_cust: int, key0: int = 0) -> dict:
    """Columns of ``n`` orders as numpy arrays (dates as day offsets
    from ORDER_DAY0, prices as integer cents)."""
    return {
        "o_orderkey": np.arange(key0, key0 + n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": rng.integers(0, len(STATUSES), n),
        "cents": rng.integers(101_370, 49_997_860, n, dtype=np.int64),
        "day": rng.integers(0, ORDER_DAYS, n),
        "o_orderpriority": rng.integers(0, len(PRIORITIES), n),
    }


def _orders_table(o: dict, month: bool = False) -> pa.Table:
    cols = {
        "o_orderkey": pa.array(o["o_orderkey"]),
        "o_custkey": pa.array(o["o_custkey"]),
        "o_orderstatus": pa.array(STATUSES[o["o_orderstatus"]]),
        "o_totalprice": pa.array(_cents_to_double(o["cents"])),
        "o_orderdate": _days_to_ts(o["day"], ORDER_DAY0),
        "o_orderpriority": pa.array(PRIORITIES[o["o_orderpriority"]]),
    }
    if month:
        cols["o_month"] = pa.array(_month_labels(o["day"]))
    return pa.table(cols)


def _month_labels(days: np.ndarray) -> np.ndarray:
    d64 = np.datetime64(ORDER_DAY0) + days.astype("timedelta64[D]")
    return np.datetime_as_string(d64.astype("datetime64[M]"))


# ------------------------------------------------------------- star data


def star_counts(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (the test data's)."""
    n = lambda base: max(1, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 96, n)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), k)]) for k in lens]
    # a few exact re-posts and near duplicates (one word swapped for the
    # rare "dup" token), so the dedup operators find real pairs
    n_dup = max(2, n // 25)
    src = rng.choice(n, size=2 * n_dup, replace=False)
    for a, b in zip(src[:n_dup:2], src[1:n_dup:2]):
        texts[b] = texts[a]
    for a, b in zip(src[n_dup::2], src[n_dup + 1 :: 2]):
        w = texts[a].split(" ")
        w[int(rng.integers(0, len(w)))] = "dup"
        texts[b] = " ".join(w)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array(np.char.add("src", rng.integers(0, 20, n).astype(str))),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def star_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write ``<table>.parquet`` for every star table under ``out_dir``."""
    c = star_counts(sf)
    r = lambda t: _rng(seed, f"star/{t}")  # noqa: E731
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}
    )
    nk = np.arange(25, dtype=np.int32)
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(nk),
            "n_name": pa.array([f"NATION_{i}" for i in nk]),
            "n_regionkey": pa.array(nk % 5),
        }
    )
    g = r("customer")
    n = c["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(g.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(_cents_to_double(g.integers(-99_999, 1_000_000, n))),
            "c_mktsegment": pa.array(SEGMENTS[g.integers(0, len(SEGMENTS), n)]),
        }
    )
    g = r("supplier")
    n = c["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(g.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": pa.array(_cents_to_double(g.integers(-99_999, 1_000_000, n))),
        }
    )
    g = r("part")
    n = c["part"]
    keys = np.arange(n, dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(
                np.char.add(
                    np.char.add(PART_ADJ[g.integers(0, len(PART_ADJ), n)], " "),
                    PART_NOUN[g.integers(0, len(PART_NOUN), n)],
                )
            ),
            "p_brand": pa.array(np.char.add("Brand#", g.integers(1, 26, n).astype(str))),
            "p_type": pa.array(PART_TYPES[g.integers(0, len(PART_TYPES), n)]),
            "p_size": pa.array(g.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
        }
    )
    tables["orders"] = _orders_table(_orders(r("orders"), c["orders"], c["customer"]))
    g = r("lineitem")
    n = c["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(g.integers(0, c["orders"], n, dtype=np.int64)),
            "l_partkey": pa.array(g.integers(0, c["part"], n, dtype=np.int64)),
            "l_suppkey": pa.array(g.integers(0, c["supplier"], n, dtype=np.int64)),
            "l_linenumber": pa.array(g.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(g.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_cents_to_double(g.integers(90_182, 10_499_789, n))),
            "l_discount": pa.array(g.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(g.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[g.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[g.integers(0, 2, n)]),
            "l_shipdate": _days_to_ts(g.integers(0, SHIP_DAYS, n), SHIP_DAY0),
        }
    )
    g = r("events")
    n = c["events"]
    span_us = 30 * 86_400_000_000
    ts = np.sort(g.integers(0, span_us, n)) + (dt.date(2024, 1, 1) - EPOCH).days * 86_400_000_000
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(g.integers(0, max(1, c["customer"] // 10), n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[g.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(_cents_to_double(g.integers(1, 50_000, n))),
            "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, n)]),
        }
    )
    tables["documents"] = _documents(r("documents"), c["documents"])
    tables["embeddings"] = _embeddings(r("embeddings"), c["embeddings"])
    paths = [_write(t, os.path.join(out_dir, f"{name}.parquet")) for name, t in tables.items()]
    return {"dir": out_dir, "counts": c, "hash": file_hash(paths)}


# --------------------------------------------------------- medallion input


def medallion_source(path: str, seed: int, n_orders: int) -> dict:
    """``orders`` with ``DUP_FRAC`` of the keys re-sent 1-30 days later
    with other values. Silver keeps the earliest row per key, which is
    always the original, so the expected output is unique."""
    g = _rng(seed, "medallion")
    o = _orders(g, n_orders, max(1, n_orders // 10))
    n_dup = int(n_orders * DUP_FRAC)
    src = g.choice(n_orders, n_dup, replace=False)
    dup = {k: v[src].copy() for k, v in o.items()}
    dup["day"] = dup["day"] + g.integers(1, 31, n_dup)
    dup["cents"] = g.integers(101_370, 49_997_860, n_dup, dtype=np.int64)
    dup["o_orderstatus"] = g.integers(0, len(STATUSES), n_dup)
    perm = g.permutation(n_orders + n_dup)
    rows = {k: np.concatenate([o[k], dup[k]])[perm] for k in o}
    _write(_orders_table(rows), path)
    return {"path": path, "rows": n_orders + n_dup, "dups": n_dup, "hash": file_hash([path])}


# ------------------------------------------------------------ CDC stream


def _decimal_cents(cents: np.ndarray) -> pa.Array:
    return pa.array([Decimal(int(c)).scaleb(-2) for c in cents], type=pa.decimal128(22, 2))


def _daily_agg(days: np.ndarray, counts: np.ndarray, cents: np.ndarray) -> pa.Table:
    """Aggregate rows ``(order_date, n_orders, revenue)`` by day."""
    uniq, inv = np.unique(days, return_inverse=True)
    n = np.bincount(inv, weights=counts, minlength=len(uniq)).astype(np.int64)
    rev = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(rev, inv, cents)
    base = (ORDER_DAY0 - EPOCH).days
    return pa.table(
        {
            "order_date": pa.array((uniq + base).astype(np.int32), type=pa.date32()),
            "n_orders": pa.array(n),
            "revenue": _decimal_cents(rev),
        }
    )


def cdc_stream(out_dir: str, seed: int, n_orders: int, n_batches: int) -> dict:
    """Seed table, seed aggregate and ``n_batches`` batches. Batch ``b``
    writes ``append_b``, ``update_b`` and ``delta_b`` parquet files and a
    manifest entry with its scan day."""
    g = _rng(seed, "cdc")
    n_cust = max(1, n_orders // 10)
    o = _orders(g, n_orders, n_cust)
    o["day"] = g.integers(ORDER_DAYS - CDC_SEED_DAYS, ORDER_DAYS, n_orders)
    paths = [
        _write(_orders_table(o, month=True), os.path.join(out_dir, "seed.parquet")),
        _write(
            _daily_agg(o["day"], np.ones(n_orders), o["cents"]),
            os.path.join(out_dir, "seed_agg.parquet"),
        ),
    ]
    state = {k: v.copy() for k, v in o.items()}
    next_key = n_orders
    last_day = ORDER_DAYS - 1
    prev = {k: v[o["day"] == last_day][:CDC_REPLAY] for k, v in o.items()}
    batches = []
    for b in range(n_batches):
        day = ORDER_DAYS + b
        new = _orders(g, CDC_APPENDS, n_cust, key0=next_key)
        new["day"] = np.full(CDC_APPENDS, day)
        next_key += CDC_APPENDS
        feed = {k: np.concatenate([prev[k][:CDC_REPLAY], new[k]]) for k in new}
        paths.append(
            _write(_orders_table(feed, month=True), os.path.join(out_dir, f"append_{b}.parquet"))
        )
        state = {k: np.concatenate([state[k], new[k]]) for k in state}

        month = (np.datetime64(ORDER_DAY0) + state["day"].astype("timedelta64[D]")).astype(
            "datetime64[M]"
        )
        age = (month.max() - month).astype(np.int64)
        w = CDC_RECENCY ** age.astype(np.float64)
        idx = g.choice(len(w), CDC_UPDATES, replace=False, p=w / w.sum())
        old_cents = state["cents"][idx].copy()
        state["cents"][idx] = g.integers(101_370, 49_997_860, CDC_UPDATES, dtype=np.int64)
        state["o_orderstatus"][idx] = g.integers(0, len(STATUSES), CDC_UPDATES)
        state["o_orderpriority"][idx] = g.integers(0, len(PRIORITIES), CDC_UPDATES)
        upd = {k: v[idx] for k, v in state.items()}
        paths.append(
            _write(_orders_table(upd, month=True), os.path.join(out_dir, f"update_{b}.parquet"))
        )
        delta = _daily_agg(
            np.concatenate([new["day"], upd["day"]]),
            np.concatenate([np.ones(CDC_APPENDS), np.zeros(CDC_UPDATES)]),
            np.concatenate([new["cents"], upd["cents"] - old_cents]),
        )
        paths.append(_write(delta, os.path.join(out_dir, f"delta_{b}.parquet")))
        scan_day = ORDER_DAY0 + dt.timedelta(days=int(g.integers(ORDER_DAYS - CDC_SEED_DAYS, day + 1)))
        batches.append({"batch": b, "scan_day": scan_day.isoformat()})
        prev = new
    manifest = os.path.join(out_dir, "batches.json")
    with open(manifest, "w") as f:
        json.dump(batches, f)
    paths.append(manifest)
    return {"dir": out_dir, "batches": batches, "hash": file_hash(paths)}
