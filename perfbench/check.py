"""Output checks. Each returns a list of problems; empty means correct.

* Stream workloads: the consumer's four NDJSON sinks against the trip
  generator's ground truth.
* query_slate: each query's result against its DuckDB oracle (exact,
  order-insensitive — the comparison the registry's correctness gate
  makes), and each timed execution's row count and checksum against the
  verified execution's digest.
"""

from __future__ import annotations

import collections
import glob
import os

import pandas as pd
import pyarrow as pa
import pyarrow.json as pj

from gen import TripTruth

SINKS = ("raw", "pickup_agg", "dropoff_agg", "combined_agg")
_SINK_FIELDS = {
    "raw": [("tpep_pickup_datetime", pa.string())],
    "pickup_agg": [
        ("PULocationID", pa.int64()),
        ("batch_id", pa.string()),
        ("trip_count", pa.int64()),
        ("aggregation_type", pa.string()),
    ],
    "dropoff_agg": [
        ("DOLocationID", pa.int64()),
        ("batch_id", pa.string()),
        ("trip_count", pa.int64()),
        ("aggregation_type", pa.string()),
    ],
    "combined_agg": [
        ("location_id", pa.int64()),
        ("batch_id", pa.string()),
        ("trip_count", pa.int64()),
        ("aggregation_type", pa.string()),
    ],
}


def read_sink(out_dir: str, name: str) -> pd.DataFrame:
    """Every data file of one sink directory, parsing only the columns
    the checks use."""
    schema = pa.schema(_SINK_FIELDS[name])
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.json")))
    parse = pj.ParseOptions(explicit_schema=schema, unexpected_field_behavior="ignore")
    tables = [pj.read_json(f, parse_options=parse) for f in files if os.path.getsize(f)]
    if not tables:
        return schema.empty_table().to_pandas()
    return pa.concat_tables(tables).to_pandas()


def read_sinks(out_dir: str) -> dict[str, pd.DataFrame]:
    return {name: read_sink(out_dir, name) for name in SINKS}


def _zone_totals(df: pd.DataFrame, key: str) -> dict[int, int]:
    if df.empty:
        return {}
    s = df.groupby(key)["trip_count"].sum()
    return {int(k): int(v) for k, v in s.items()}


def _tagged_rows(df: pd.DataFrame, key: str) -> collections.Counter:
    return collections.Counter(
        zip(df["aggregation_type"], df[key].astype("int64"), df["batch_id"], df["trip_count"])
    )


def check_sinks(sinks: dict[str, pd.DataFrame], truth: TripTruth) -> list[str]:
    """Raw row count, per-zone pickup and dropoff totals, combined_agg
    equal to pickup_agg plus dropoff_agg row for row, and no NULL pickup
    time left after the consumer's repair."""
    problems = []
    raw = sinks["raw"]
    if len(raw) != truth.rows:
        problems.append(f"raw: {len(raw)} rows, expected {truth.rows}")
    nulls = int(raw["tpep_pickup_datetime"].isna().sum()) if len(raw) else 0
    if nulls:
        problems.append(f"raw: {nulls} NULL pickup times after repair")
    for name, key, want in (
        ("pickup_agg", "PULocationID", truth.pickup_counts),
        ("dropoff_agg", "DOLocationID", truth.dropoff_counts),
    ):
        got = _zone_totals(sinks[name], key)
        if got != want:
            bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
            problems.append(
                f"{name}: {len(bad)} zones differ, e.g. zone {bad[0]}: "
                f"{got.get(bad[0])} vs {want.get(bad[0])}"
            )
    union = _tagged_rows(sinks["pickup_agg"], "PULocationID") + _tagged_rows(
        sinks["dropoff_agg"], "DOLocationID"
    )
    combined = _tagged_rows(sinks["combined_agg"], "location_id")
    if combined != union:
        problems.append(
            f"combined_agg: {sum((combined - union).values())} rows not in "
            f"pickup ∪ dropoff, {sum((union - combined).values())} missing"
        )
    return problems


# --------------------------------------------------------------------
# query_slate
# --------------------------------------------------------------------


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Exact, order-insensitive equality of two result frames: same
    column names, same row count, same values (floats included)."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return [f"columns {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"]
    if len(spark_pdf) != len(oracle_pdf):
        return [f"{len(spark_pdf)} rows vs oracle {len(oracle_pdf)}"]
    s, d = _canon(spark_pdf), _canon(oracle_pdf)
    problems = []
    for col in s.columns:
        sv, dv = s[col], d[col]
        try:
            if sv.dtype.kind == "f" or dv.dtype.kind == "f":
                ok = ((sv.isna() & dv.isna()) | (sv == dv)).all()
            else:
                ok = sv.astype(object).where(~sv.isna(), None).equals(
                    dv.astype(object).where(~dv.isna(), None)
                )
        except (TypeError, ValueError) as ex:
            problems.append(f"column {col}: cannot compare ({ex})")
            continue
        if not ok:
            problems.append(f"column {col}: values differ from the oracle")
    return problems


def check_digest(
    name: str, got: tuple[int, int], verified: tuple[int, int]
) -> list[str]:
    """A timed execution must reproduce the verified (rows, checksum)."""
    if got == verified:
        return []
    return [f"{name}: digest {got} differs from verified {verified}"]
