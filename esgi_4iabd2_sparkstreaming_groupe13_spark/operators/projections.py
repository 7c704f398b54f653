"""Projections, filters, enrichment (reference P1-P8, F1-F9).

All built-in column expressions — zero UDFs, everything stays inside
whole-stage codegen and is Catalyst-prunable/pushable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: The consumer's SQL projection (P1, ``StreamProcessor.scala:107-121``)
#: as a SQL string over the registered view. Kept in SQL form on purpose:
#: the reference's one "catalog" usage is this temp-view + spark.sql pair
#: (X3/P1) and both APIs compile to the same Catalyst plan.
TRIP_PROJECTION_SQL = """
SELECT
  batch_id,
  VendorID,
  tpep_pickup_datetime,
  tpep_dropoff_datetime,
  PULocationID,
  DOLocationID,
  passenger_count,
  trip_distance,
  fare_amount,
  total_amount,
  payment_type
FROM taxi_trips
"""


def add_processing_metadata(df: DataFrame, batch_id: Column | str | int) -> DataFrame:
    """P2, intent-correct form.

    The reference freezes ``processing_time``/``batch_id`` at plan-build
    time (``StreamProcessor.scala:33-39`` — the §1.3 quirk: every
    micro-batch carries the same constants). The intended semantics is
    per-micro-batch identity, so the rebuild takes the ``foreachBatch``
    ``batchId`` (or any per-batch column) and a per-batch evaluated
    ``current_timestamp()``.
    """
    batch_col = (
        F.lit(str(batch_id)) if isinstance(batch_id, (str, int)) else batch_id
    )
    return df.withColumn("processing_time", F.current_timestamp()).withColumn(
        "batch_id", batch_col.cast("string")
    )


def repair_null_timestamps(
    df: DataFrame, cols: tuple[str, ...] = ("tpep_pickup_datetime", "tpep_dropoff_datetime")
) -> DataFrame:
    """P3 (``StreamProcessor.scala:95-101``): null event times fall back
    to processing time. ``coalesce`` == the reference's when/isNull."""
    out = df
    for c in cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.current_timestamp()))
    return out


def filter_range(df: DataFrame, col: str, lo, hi) -> DataFrame:
    """P4/F5 (``ProducerOperations.scala:142``): inclusive range filter."""
    return df.filter(F.col(col).between(lo, hi))


def rename_to(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """P6: column renames (pre-union key alignment)."""
    return df.withColumnsRenamed(mapping)


def tag(df: DataFrame, name: str, value: str) -> DataFrame:
    """P7: literal tag column (``aggregation_type``)."""
    return df.withColumn(name, F.lit(value))


def unpivot_long(
    df: DataFrame,
    id_cols: list[str],
    value_cols: list[str],
    var_col: str = "measure",
    value_col: str = "value",
) -> DataFrame:
    """Wide→long reshape (melt) — the inverse of pivot: one output row
    per (id, measure) with the measure name in ``var_col``. The shape
    feature stores and long-format metric tables want when a pipeline
    emits N parallel numeric columns.

    Uses the native ``DataFrame.unpivot`` (Catalyst ``Expand`` — a
    zero-shuffle narrow per-row expansion, same physical shape as
    grouping sets), with every value column cast to double first so
    the unified value column has one type regardless of the input mix
    (the native op requires a least common type; an int/double mix
    would otherwise fail analysis).
    """
    widened = df.select(
        *[F.col(c) for c in id_cols],
        *[F.col(c).cast("double").alias(c) for c in value_cols],
    )
    return widened.unpivot(id_cols, value_cols, var_col, value_col)


def variant_extract(
    df: DataFrame,
    json_col: str,
    fields: dict[str, tuple[str, str]],
) -> DataFrame:
    """Semi-structured JSON extraction through Spark 4's VARIANT type
    (F9 modernization; the reference parses JSON strings per access,
    ``StreamProcessor.scala:95-105``).

    ``fields`` maps output column name → (variant path like ``$.k``,
    target type like ``long``). The payload is parsed ONCE with
    ``parse_json`` into Variant's binary encoding, then every field is
    read with ``try_variant_get`` — at scale this beats N×
    ``get_json_object`` calls, which each re-tokenize the raw string
    per field per row. ``try_`` semantics on BOTH steps (parse and
    get): malformed documents, missing paths, and failed casts yield
    NULL instead of failing the job, matching the PERMISSIVE posture
    of the batch sources. Pure per-row expression — zero shuffles,
    fully codegen'd, and column-prunable down to ``json_col``.
    """
    v = F.try_parse_json(F.col(json_col))
    return df.select(
        *[c for c in df.columns if c != json_col],
        *[
            F.try_variant_get(v, path, typ).alias(out)
            for out, (path, typ) in fields.items()
        ],
    )
