"""The streaming consumer — parity with the reference's
``StreamProcessor.scala:88-204`` pipeline, Spark-first.

Pipeline per micro-batch (inside ``foreachBatch``):
  enrich (processing metadata P2 + null repair P3)
  → temp view + SQL projection (X3/P1)
  → 4 sinks: raw passthrough, pickup agg (A1), dropoff agg (A2),
    tagged union of the two (P6/P7/U1) — each appended as NDJSON under
    its own directory (K1/K2), with the streaming checkpoint on the
    source query (T4).

Intent-correct divergences from the reference (documented, SURVEY §1.3):
* ``batch_id`` comes from the ``foreachBatch`` batchId argument —
  per-micro-batch identity, not the reference's frozen plan-time
  constant (bug).
* ``processing_time`` is ``current_timestamp()`` evaluated per batch.

Delivery semantics: the streaming engine's checkpoint gives exactly-once
*offset tracking*; the four inner writes are plain appends, so a crash
mid-batch can double-append some dirs on recovery — at-least-once per
directory, same as the reference (``StreamProcessor.scala:148-192``).
The scale-up fix (not needed for parity) is partitioning every sink by
``batch_id`` + dynamic partition overwrite, making replays idempotent.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..config import ConsumerConfig
from ..operators.aggregations import count_by_key
from ..operators.projections import (
    TRIP_PROJECTION_SQL,
    add_processing_metadata,
    repair_null_timestamps,
)
from ..operators.sets import union_tagged
from ..sources.stream import create_trip_stream


def enrich_and_project(df: DataFrame, batch_id: int | str) -> DataFrame:
    """P2 + P3 + X3 + P1 for one micro-batch (or a batch frame).

    The temp view is registered on — and the SQL resolved against —
    the DataFrame's OWN session: inside ``foreachBatch`` Spark hands
    the closure a micro-batch-scoped session, and resolving the view
    through any other session silently reads stale state.
    """
    enriched = repair_null_timestamps(add_processing_metadata(df, batch_id))
    enriched.createOrReplaceTempView("taxi_trips")
    return enriched.sparkSession.sql(TRIP_PROJECTION_SQL)


def batch_aggregates(projected: DataFrame) -> dict[str, DataFrame]:
    """A1 + A2 + the tagged union (P6/P7/U1) for one batch frame."""
    pickup = count_by_key(
        projected, "PULocationID", batch_col="batch_id", tag_value="pickup_location"
    )
    dropoff = count_by_key(
        projected, "DOLocationID", batch_col="batch_id", tag_value="dropoff_location"
    )
    combined = union_tagged(
        [
            pickup.withColumnRenamed("PULocationID", "location_id"),
            dropoff.withColumnRenamed("DOLocationID", "location_id"),
        ]
    )
    return {"pickup_agg": pickup, "dropoff_agg": dropoff, "combined_agg": combined}


def process_batch(
    batch_df: DataFrame,
    batch_id: int,
    output_dir: str,
    output_format: str = "json",
    idempotent: bool = False,
) -> None:
    """The ``foreachBatch`` body (K2, ``StreamProcessor.scala:148-192``).

    Empty-batch short-circuit (A4) then four writes. The batch frame is
    tiny per trigger; at scale the aggregates reuse the same shuffle
    keys so AQE coalesces their exchanges.

    ``idempotent=False`` keeps the reference's plain appends
    (at-least-once per directory on crash-replay). ``idempotent=True``
    is the scale fix documented in SURVEY §7 risk 3: each sink is
    partitioned by ``batch_id`` and written with dynamic partition
    overwrite, so a replayed micro-batch replaces its own partition —
    exactly-once per directory without a transactional table format.
    The overwrite mode is a per-writer option, never a session conf
    change, so other queries on the session are unaffected.

    The four writes run as concurrent Spark jobs
    (threads; py4j calls are thread-safe, and the jobs share the
    persisted projection so no input work is repeated). A micro-batch
    with small per-sink job times is SCHEDULING-bound, not
    compute-bound — serializing four ~150 ms jobs wastes 3× the
    per-job overhead every trigger. Profiled here: ~6.3k rows/s
    sequential → ~10k rows/s parallel at 6,250-row micro-batches.
    Failure semantics are unchanged: any sink error propagates out of
    ``foreachBatch`` (after all four settle) and fails the batch, so
    the engine still retries the whole trigger — the same
    at-least-once contract as sequential writes, which could also
    leave partial sink state mid-batch.
    """
    if batch_df.isEmpty():
        return
    projected = enrich_and_project(batch_df, batch_id)
    projected.persist()
    # no explicit cache-materialization job: the block store computes
    # each cached partition exactly once even under concurrent readers
    # (per-partition locks), so the first sink jobs to arrive fill the
    # cache and the rest read it
    try:
        frames = {"raw": projected}
        frames.update(batch_aggregates(projected))

        def write_one(item: tuple[str, DataFrame]) -> None:
            name, frame = item
            path = f"{output_dir}/{name}"
            if idempotent:
                (
                    frame.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .format(output_format)
                    .save(path)
                )
            else:
                frame.write.mode("append").format(output_format).save(path)

        with ThreadPoolExecutor(max_workers=len(frames)) as pool:
            # list() re-raises the first sink exception after all
            # futures settle → the batch fails → engine retries
            list(pool.map(write_one, frames.items()))
    finally:
        projected.unpersist()


def start_consumer(
    spark: SparkSession,
    cfg: ConsumerConfig,
    available_now: bool = False,
) -> StreamingQuery:
    """Wire the full consumer (K1/K2/T1-T4). ``available_now=True``
    drains everything currently in the directory then stops — the
    batch-equivalence test mode (SURVEY §5.3)."""
    # enrichment happens per batch inside foreachBatch, so batch_id is
    # per-micro-batch
    stream = create_trip_stream(
        spark, cfg.input_dir, max_files_per_trigger=cfg.max_files_per_trigger
    )

    if cfg.enable_console:
        writer = (
            stream.writeStream.format("console")
            .outputMode("append")
            .option("checkpointLocation", cfg.checkpoint_dir)
        )
    else:
        writer = (
            stream.writeStream.outputMode("append")
            .option("checkpointLocation", cfg.checkpoint_dir)
            .foreachBatch(
                lambda df, bid: process_batch(
                    df,
                    bid,
                    cfg.output_dir,
                    cfg.output_format,
                    idempotent=cfg.idempotent_sinks,
                )
            )
        )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{int(cfg.trigger_seconds)} seconds")
    return writer.start()


def batch_reference_outputs(
    source_df: DataFrame, batch_id: int | str = "all"
) -> dict[str, DataFrame]:
    """One-shot batch computation of the same four outputs — the
    equivalence oracle for streaming tests: union of per-batch
    aggregates must re-aggregate to this."""
    projected = enrich_and_project(source_df, batch_id)
    out = {"raw": projected}
    out.update(batch_aggregates(projected))
    return out
