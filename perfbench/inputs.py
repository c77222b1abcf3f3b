"""Seeded inputs of the three workloads. The same seed gives the same
files, byte for byte; the program under test only ever sees the files.

* :func:`write_tables` — the ten fixture tables the suite queries read
  (TPC-H-ish star schema, ``events``, ``documents``, ``embeddings``), with
  the schemas and value domains of the engine's test fixtures.
* :func:`documents` — the text corpus: words from a small vocabulary, with
  exact copies and near-duplicates planted so the dedup families find work.
* :func:`write_taxi_csv` — an NYC-taxi-shaped CSV with planted duplicates,
  NULL pickups, zero-length and >300 mph trips; returns the number of rows
  ``core_texi`` must keep.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = (["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _us(days):
    return np.asarray(days, dtype="int64") * DAY_US


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """``n`` documents with ids ``0..n-1``. About 5% are an earlier
    document plus a trailing ``dup`` word (near-duplicates) and about 0.2%
    are exact copies of an earlier text."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src if r < 0.002 else src + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 101)))))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, size=n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def tables(rng: np.random.Generator, sf: float, n_docs: int) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (lineitem ≈ 6M·sf)."""
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_orders, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    n_users = max(10, n_events // 66)
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10.0, 1),
        }
    )
    order_days = rng.integers(0, 2404, n_orders)
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
            "o_orderdate": pa.array(EPOCH_1995 + _us(order_days), pa.timestamp("us")),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )
    lines = np.clip(rng.poisson(4, n_orders), 1, 7)
    n_li = int(lines.sum())
    orderkey = np.repeat(np.arange(n_orders, dtype="int64"), lines)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype("float64")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": pa.array(EPOCH_1995 + _us(1 + rng.integers(0, 2499, n_li)), pa.timestamp("us")),
        }
    )
    ts = EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_events).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype="int64"),
            "ts": pa.array(np.sort(ts), pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    out["documents"] = pa.Table.from_pandas(documents(rng, n_docs), preserve_index=False)
    n_vec = n_docs
    vec = rng.normal(size=(n_vec, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype="int64"),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    return out


def write_tables(seed: int, sf: float, n_docs: int, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(np.random.default_rng(seed), sf, n_docs).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# -- taxi CSV ----------------------------------------------------------------

def taxi_frame(rng: np.random.Generator, n_base: int) -> tuple[pd.DataFrame, int]:
    """``n_base`` valid trips with distinct keys (pickups three seconds
    apart), plus planted rows: ~1% duplicates of a valid trip (same key,
    other tip), ~0.5% NULL pickups, ~0.5% zero-length trips and ~0.5%
    trips faster than 300 mph. Returns the shuffled frame and the number
    of rows the core model keeps (``n_base``)."""
    start = np.datetime64("2015-01-01T00:00:00", "s")
    pickup = start + np.arange(n_base).astype("timedelta64[s]") * 3
    duration = rng.integers(300, 3900, n_base).astype("timedelta64[s]")
    dist = np.round(rng.uniform(0.3, 20.0, n_base), 2)
    fare = np.round(2.5 + dist * 2.5, 2)
    base = pd.DataFrame(
        {
            "VendorID": rng.integers(1, 3, n_base),
            "tpep_pickup_datetime": pickup,
            "tpep_dropoff_datetime": pickup + duration,
            "passenger_count": rng.integers(1, 7, n_base),
            "trip_distance": dist,
            "pickup_longitude": np.round(-74.0 + rng.uniform(-0.1, 0.1, n_base), 6),
            "pickup_latitude": np.round(40.73 + rng.uniform(-0.1, 0.1, n_base), 6),
            "RateCodeID": rng.integers(1, 7, n_base),
            "store_and_fwd_flag": rng.choice(["N", "Y"], n_base),
            "dropoff_longitude": np.round(-73.98 + rng.uniform(-0.1, 0.1, n_base), 6),
            "dropoff_latitude": np.round(40.75 + rng.uniform(-0.1, 0.1, n_base), 6),
            "payment_type": rng.integers(1, 3, n_base),
            "fare_amount": fare,
            "extra": 0.5,
            "mta_tax": 0.5,
            "tip_amount": np.round(rng.uniform(0, 4, n_base), 2),
            "tolls_amount": 0.0,
            "improvement_surcharge": 0.3,
            "total_amount": np.round(fare + 3.8, 2),
        }
    )
    k = max(1, n_base // 200)
    dups = base.iloc[rng.integers(0, n_base, 2 * k)].copy()
    dups["tip_amount"] = np.round(dups["tip_amount"] + 1.0, 2)
    null_pickup = base.iloc[rng.integers(0, n_base, k)].copy()
    zero = base.iloc[rng.integers(0, n_base, k)].copy()
    zero["tpep_pickup_datetime"] = zero["tpep_pickup_datetime"] + np.timedelta64(1, "s")
    zero["tpep_dropoff_datetime"] = zero["tpep_pickup_datetime"]
    fast = base.iloc[rng.integers(0, n_base, k)].copy()
    fast["tpep_pickup_datetime"] = fast["tpep_pickup_datetime"] + np.timedelta64(2, "s")
    fast["tpep_dropoff_datetime"] = fast["tpep_pickup_datetime"] + np.timedelta64(300, "s")
    fast["trip_distance"] = 50.0
    frame = pd.concat([base, dups, null_pickup, zero, fast], ignore_index=True)
    at = len(base) + len(dups)
    frame.loc[at : at + k - 1, "tpep_pickup_datetime"] = pd.NaT
    frame = frame.iloc[rng.permutation(len(frame))].reset_index(drop=True)
    return frame, n_base


def write_taxi_csv(seed: int, n_base: int, path: str) -> tuple[int, int]:
    """Write the taxi CSV at ``path``; returns ``(rows written, rows the
    core model keeps)``."""
    frame, expected = taxi_frame(np.random.default_rng(seed), n_base)
    frame.to_csv(path, index=False, date_format="%Y-%m-%d %H:%M:%S")
    return len(frame), expected

