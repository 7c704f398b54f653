"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from the workload
seed: the same seed gives byte-identical inputs. Two generators:

* ``trips`` — the 19-column yellow-taxi record of FIXTURES.md F1:
  skewed ``PULocationID``/``DOLocationID`` over the 265 NYC zones and
  about 2% NULL pickup times, plus the ground truth the sink checker
  compares against (per-zone counts, NULL counts).
* ``write_corpus`` — the star-schema tables the query registry reads
  (region nation customer supplier part orders lineitem events
  documents embeddings), with the column types and value domains of
  the testdata tables the registry's oracles were validated on.

Only numpy, pandas and pyarrow are used; no Spark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_ZONES = 265
NULL_PICKUP_SHARE = 0.02
TRIP_MONTH_START = np.datetime64("2024-01-01T00:00:00", "s")
TRIP_MONTH_SECONDS = 31 * 86_400

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


@dataclass(frozen=True)
class TripTruth:
    """What the consumer's sinks must add up to for one trip set."""

    rows: int
    pickup_counts: dict[int, int]  # PULocationID -> trips
    dropoff_counts: dict[int, int]  # DOLocationID -> trips
    null_pickups: int  # NULL pickup times in the input (repaired downstream)


def _zone_sampler(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    """Zipf-like zone popularity (exponent 1.1) over a seeded shuffle of
    the zone ids, so the busiest zones differ from seed to seed."""
    zones = rng.permutation(np.arange(1, N_ZONES + 1))
    weights = 1.0 / np.arange(1, N_ZONES + 1) ** 1.1
    return zones, weights / weights.sum()


def _with_nulls(
    rng: np.random.Generator, values: np.ndarray, share: float
) -> pd.Series:
    """Float column with ``share`` of its entries NULL (NaN)."""
    out = values.astype("float64")
    out[rng.random(len(out)) < share] = np.nan
    return pd.Series(out)


def trips(seed: int, n_rows: int) -> tuple[pd.DataFrame, TripTruth]:
    """``n_rows`` trips in pickup order within January 2024, and their
    ground truth. NULL pickup times are spread uniformly over the rows."""
    rng = np.random.default_rng(seed)
    pu_zones, pu_w = _zone_sampler(rng)
    do_zones, do_w = _zone_sampler(rng)
    pickup = TRIP_MONTH_START + np.sort(
        rng.integers(0, TRIP_MONTH_SECONDS, n_rows)
    ).astype("timedelta64[s]")
    dropoff = pickup + rng.integers(60, 3_601, n_rows).astype("timedelta64[s]")
    pickup_s = pd.Series(pickup.astype("datetime64[s]"))
    pickup_s[rng.random(n_rows) < NULL_PICKUP_SHARE] = pd.NaT
    dropoff_s = pd.Series(dropoff.astype("datetime64[s]"))
    dropoff_s[rng.random(n_rows) < NULL_PICKUP_SHARE] = pd.NaT

    fare = np.round(rng.uniform(3.0, 200.0, n_rows), 2)
    extra = rng.choice([0.0, 0.5, 1.0, 2.5, 7.5], n_rows)
    mta = rng.choice([0.0, 0.5], n_rows, p=[0.05, 0.95])
    tip = np.round(rng.uniform(0.0, 50.0, n_rows) * (rng.random(n_rows) < 0.7), 2)
    tolls = np.round(rng.uniform(0.0, 20.0, n_rows) * (rng.random(n_rows) < 0.1), 2)
    improvement = rng.choice([0.0, 1.0], n_rows, p=[0.05, 0.95])
    congestion = rng.choice([0.0, 2.5], n_rows, p=[0.3, 0.7])
    airport = rng.choice([0.0, 1.75], n_rows, p=[0.9, 0.1])
    total = np.round(
        fare + extra + mta + tip + tolls + improvement + congestion + airport, 2
    )
    flag = pd.Series(rng.choice(np.array(["N", "Y"], dtype=object), n_rows, p=[0.97, 0.03]))
    flag[rng.random(n_rows) < 0.01] = None
    pu = pu_zones[rng.choice(N_ZONES, n_rows, p=pu_w)]
    do = do_zones[rng.choice(N_ZONES, n_rows, p=do_w)]

    df = pd.DataFrame(
        {
            "VendorID": rng.integers(1, 3, n_rows),
            "tpep_pickup_datetime": pickup_s,
            "tpep_dropoff_datetime": dropoff_s,
            "passenger_count": _with_nulls(rng, rng.integers(1, 7, n_rows), 0.01),
            "trip_distance": np.round(rng.uniform(0.0, 30.0, n_rows), 2),
            "RatecodeID": _with_nulls(rng, rng.integers(1, 7, n_rows), 0.01),
            "store_and_fwd_flag": flag,
            "PULocationID": pu,
            "DOLocationID": do,
            "payment_type": rng.integers(1, 5, n_rows),
            "fare_amount": fare,
            "extra": extra,
            "mta_tax": mta,
            "tip_amount": tip,
            "tolls_amount": tolls,
            "improvement_surcharge": improvement,
            "total_amount": total,
            "congestion_surcharge": congestion,
            "Airport_fee": airport,
        },
        columns=TRIP_COLUMNS,
    )
    truth = TripTruth(
        rows=n_rows,
        pickup_counts=_counts(pu),
        dropoff_counts=_counts(do),
        null_pickups=int(pickup_s.isna().sum()),
    )
    return df, truth


def _counts(keys: np.ndarray) -> dict[int, int]:
    vals, cnt = np.unique(keys, return_counts=True)
    return {int(v): int(c) for v, c in zip(vals, cnt)}


def merge_truth(parts: list[TripTruth]) -> TripTruth:
    """Ground truth of the union of several trip sets."""
    pu: dict[int, int] = {}
    do: dict[int, int] = {}
    for t in parts:
        for k, v in t.pickup_counts.items():
            pu[k] = pu.get(k, 0) + v
        for k, v in t.dropoff_counts.items():
            do[k] = do.get(k, 0) + v
    return TripTruth(
        rows=sum(t.rows for t in parts),
        pickup_counts=pu,
        dropoff_counts=do,
        null_pickups=sum(t.null_pickups for t in parts),
    )


def _timestamps_as_text(df: pd.DataFrame, sep: str) -> pd.DataFrame:
    """Copy of ``df`` with both timestamp columns as ``yyyy-MM-dd<sep>
    HH:mm:ss`` strings and NULL kept as None."""
    out = df.copy()
    for c in ("tpep_pickup_datetime", "tpep_dropoff_datetime"):
        text = np.datetime_as_string(out[c].to_numpy("datetime64[s]"), unit="s")
        text = np.char.replace(text, "T", sep) if sep != "T" else text
        out[c] = np.where(out[c].isna(), None, text)
    return out


def write_trip_csv(df: pd.DataFrame, path: str) -> None:
    """The producer's input form: CSV with a header, ``yyyy-MM-dd
    HH:mm:ss`` timestamps and empty strings for NULL."""
    _timestamps_as_text(df, " ").to_csv(path, index=False, na_rep="")


def write_trip_ndjson(df: pd.DataFrame, path: str) -> None:
    """The consumer's input form: one JSON object per line, ISO-8601
    timestamps, NULL fields written as ``null``."""
    _timestamps_as_text(df, "T").to_json(path, orient="records", lines=True)


# --------------------------------------------------------------------
# Star-schema corpus for the query registry
# --------------------------------------------------------------------

#: Table sizes: the testdata layout at sf0.001.
CORPUS_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1_500,
    "lineitem": 6_000,
    "events": 1_000,
    "documents": 500,
    "embeddings": 500,
}
WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
EMBED_DIM = 64
N_LABELS = 10


def _days(rng, n, lo: str, hi: str) -> np.ndarray:
    start = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - start).astype(int)
    return (start + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def corpus_tables(seed: int, embeddings_seed: int | None = None) -> dict[str, pa.Table]:
    """Every registry input table, deterministic in ``seed``; the
    embeddings table follows ``embeddings_seed`` instead when given."""
    rng = np.random.default_rng(seed)
    n = CORPUS_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    npart = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, npart) * 0.1, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
        }
    )
    ne = n["events"]
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400 * 1_000_000, ne)
    ).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(
        rng if embeddings_seed is None else np.random.default_rng(embeddings_seed),
        n["embeddings"],
    )
    return t


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    """Bag-of-words texts over a 30-word vocabulary; about 6% are
    near-duplicates of an earlier text with one word appended."""
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.06:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 91))
            texts.append(" ".join(rng.choice(WORDS, k)))
    langs = rng.choice(LANGS, nd, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return pa.table(
        {
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, nv: int) -> pa.Table:
    """Unit vectors in 64 dimensions around 10 weak label centroids."""
    centers = rng.standard_normal((N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, nv)
    x = rng.standard_normal((nv, EMBED_DIM)) + 0.15 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_corpus(
    seed: int, out_dir: str, embeddings_seed: int | None = None
) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in corpus_tables(seed, embeddings_seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
