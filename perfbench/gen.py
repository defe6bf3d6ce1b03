"""Seeded input generators for the benchmark.

The program under test never generates its own inputs here: this module
writes plain files (a taxi CSV, a parquet corpus) and the benchmark hands
the program only their paths.

* ``write_taxi_csv`` reproduces the column formulas of
  ``streaming.synthetic.synthetic_trip_batch`` (the trip schema, one row
  per counter value ``v``), with the counter range offset by the seed and
  the row order permuted by the seed, so the producer's event-time sort
  does real work.
* ``write_slate_corpus`` writes the ten tables the registry queries read
  (star schema + events + documents + embeddings) with the column
  domains of the repository's test corpus. Table contents are fixed; the
  seed permutes each table's row order. Results of layout-stable queries
  are therefore the same for every seed, which lets the benchmark check
  them against recorded checksums while still varying the physical input.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TRIP_COLUMNS = [
    "VendorID",
    "tpep_pickup_datetime",
    "tpep_dropoff_datetime",
    "passenger_count",
    "trip_distance",
    "RatecodeID",
    "store_and_fwd_flag",
    "PULocationID",
    "DOLocationID",
    "payment_type",
    "fare_amount",
    "extra",
    "mta_tax",
    "tip_amount",
    "tolls_amount",
    "improvement_surcharge",
    "total_amount",
    "congestion_surcharge",
    "Airport_fee",
]

#: Counter offset per seed unit; keeps seeds' value ranges disjoint for
#: any run smaller than this many rows.
SEED_STRIDE = 1_000_003
EPOCH = dt.datetime(2023, 11, 14, 22, 13, 20)  # 1_700_000_000 UTC


def _fmt(x: float) -> str:
    return repr(float(x))


def trip_row(v: int) -> list[str]:
    """One CSV row for counter value ``v`` (synthetic_trip_batch's
    formulas; ``timestamp`` = epoch + v mod 86400 seconds)."""
    pickup = EPOCH + dt.timedelta(seconds=v % 86_400)
    dropoff = pickup + dt.timedelta(minutes=v % 50)
    fare = float(v % 80 + 5)
    return [
        str(v % 2 + 1),
        pickup.strftime("%Y-%m-%d %H:%M:%S"),
        dropoff.strftime("%Y-%m-%d %H:%M:%S"),
        _fmt(v % 4 + 1),
        _fmt((v % 300) / 10.0),
        "1.0",
        "Y" if v % 97 == 0 else "N",
        str(v % 265 + 1),
        str((v * 7) % 265 + 1),
        str(v % 4 + 1),
        _fmt(fare),
        "0.5",
        "0.5",
        _fmt(fare * 0.15),
        "0.0",
        "1.0",
        _fmt(fare * 1.15 + 2.0),
        "2.5",
        "1.75" if v % 11 == 0 else "0.0",
    ]


def write_taxi_csv(path: str, n_rows: int, seed: int) -> None:
    """Write ``n_rows`` trips, counter values ``seed*SEED_STRIDE + i``,
    in a seed-permuted row order. Pickup times are distinct as long as
    ``n_rows`` stays below one day of seconds."""
    if n_rows >= 86_400:
        raise ValueError("n_rows must stay below 86400 for distinct pickups")
    base = seed * SEED_STRIDE
    order = np.random.default_rng(seed).permutation(n_rows)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(TRIP_COLUMNS)
        for i in order:
            w.writerow(trip_row(base + int(i)))


# --------------------------------------------------------------------
# Slate corpus
# --------------------------------------------------------------------

#: Row counts of the corpus (the repository test corpus at sf0.01).
#: ``scale`` shrinks the star schema and events (0.1 = sf0.001 sizes);
#: documents and embeddings keep their size, as in the test corpus.
SLATE_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
CONTENT_SEED = 42
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 9 + ["de", "es", "fr", "zh"] * 3


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


SCALED = ("customer", "supplier", "part", "orders", "lineitem", "events")


def slate_tables(scale: float = 1.0) -> dict[str, pd.DataFrame]:
    """The corpus contents (seed-independent)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n = {k: int(v * scale) if k in SCALED else v for k, v in SLATE_ROWS.items()}
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n["customer"], dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n["supplier"], dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
        }
    )
    n_part = n["part"]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{ADJ[a]} {NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    n_ord = n["orders"]
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n["customer"], n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-02"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    n_li = n["lineitem"]
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n["supplier"], n_li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-09-01"),
        }
    )
    n_ev = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": start + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, n_ev).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_doc = n["documents"]
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype="int64"),
        }
    )
    n_emb = n["embeddings"]
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = 0.15 * centers[labels] + rng.normal(size=(n_emb, 64)) / 8.0
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": list(x.astype("float32")),
            "label": labels.astype("int32"),
        }
    )
    return t


def write_slate_corpus(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet`` with its rows in
    a seed-permuted order; returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    counts = {}
    for name, df in slate_tables(scale).items():
        df = df.iloc[rng.permutation(len(df))].reset_index(drop=True)
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1,
                "embedding",
                pa.array([v.tolist() for v in df["embedding"]], pa.list_(pa.float32())),
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = len(df)
    return counts
