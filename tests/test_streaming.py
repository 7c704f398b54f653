"""Streaming batch-equivalence tests (SURVEY §5.3): run the consumer
pipeline with availableNow over a staged NDJSON directory and assert
the union of per-batch outputs equals the one-shot batch computation;
plus checkpoint-restart idempotence of the source."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from esgi_4iabd2_sparkstreaming_groupe13_spark.config import ConsumerConfig
from esgi_4iabd2_sparkstreaming_groupe13_spark.schemas import RAW_OUTPUT_COLUMNS
from esgi_4iabd2_sparkstreaming_groupe13_spark.sources.batch import load_trip_csv
from esgi_4iabd2_sparkstreaming_groupe13_spark.streaming.processor import (
    start_consumer,
)
from esgi_4iabd2_sparkstreaming_groupe13_spark.streaming.producer import (
    replay_to_ndjson,
)

N_ROWS = 57
BATCH = 10


@pytest.fixture(scope="module")
def taxi_csv(spark, tmp_path_factory):
    """Synthesize a small taxi CSV fixture (FIXTURES.md F1)."""
    d = tmp_path_factory.mktemp("taxi_csv")
    path = d / "trips.csv"
    header = (
        "VendorID,tpep_pickup_datetime,tpep_dropoff_datetime,passenger_count,"
        "trip_distance,RatecodeID,store_and_fwd_flag,PULocationID,DOLocationID,"
        "payment_type,fare_amount,extra,mta_tax,tip_amount,tolls_amount,"
        "improvement_surcharge,total_amount,congestion_surcharge,Airport_fee"
    )
    lines = [header]
    for i in range(N_ROWS):
        pickup = f"2024-01-01 {8 + i // 60:02d}:{i % 60:02d}:00"
        dropoff = f"2024-01-01 {9 + i // 60:02d}:{i % 60:02d}:00"
        # every 13th row: empty pickup timestamp (null repair path)
        pu = "" if i % 13 == 5 else pickup
        lines.append(
            f"{1 + i % 2},{pu},{dropoff},{1.0 + i % 3},{1.5 * i},1.0,N,"
            f"{100 + i % 5},{200 + i % 3},1,{10.0 + i},0.5,0.5,2.0,0.0,1.0,"
            f"{14.0 + i},2.5,0.0"
        )
    path.write_text("\n".join(lines) + "\n")
    return str(path)


@pytest.fixture(scope="module")
def pipeline_run(spark, taxi_csv, tmp_path_factory):
    """Replay the CSV as NDJSON batches, consume with availableNow."""
    root = tmp_path_factory.mktemp("pipeline")
    trips = load_trip_csv(spark, taxi_csv)
    published = replay_to_ndjson(
        trips,
        stage_dir=str(root / "stage"),
        output_dir=str(root / "streaming"),
        batch_size=BATCH,
    )
    cfg = ConsumerConfig(
        input_dir=str(root / "streaming"),
        output_dir=str(root / "processed"),
        checkpoint_dir=str(root / "ckpt"),
        max_files_per_trigger=2,
    )
    q = start_consumer(spark, cfg, available_now=True)
    assert q.awaitTermination(600), "stream did not terminate within 600s"
    return {"root": root, "cfg": cfg, "published": published, "trips": trips}


def test_console_sink_drains_without_writing_dirs(
    spark, pipeline_run, tmp_path_factory
):
    """K3 (StreamProcessor.scala console debug path): with
    enable_console=True the consumer must wire a console sink — the
    availableNow drain terminates cleanly and, because foreachBatch is
    bypassed, no sink directories appear under output_dir."""
    root = tmp_path_factory.mktemp("console")
    cfg = ConsumerConfig(
        input_dir=pipeline_run["cfg"].input_dir,
        output_dir=str(root / "processed"),
        checkpoint_dir=str(root / "ckpt"),
        max_files_per_trigger=2,
        enable_console=True,
    )
    q = start_consumer(spark, cfg, available_now=True)
    assert q.awaitTermination(600), "console stream did not terminate"
    assert not (root / "processed").exists()


def test_producer_one_file_per_batch(pipeline_run):
    import math

    assert len(pipeline_run["published"]) == math.ceil(N_ROWS / BATCH)


def test_producer_debug_tap_blocks(spark, taxi_csv, tmp_path_factory):
    """K5 (FileSender.scala:31-67): replay with the debug tap enabled —
    one block per batch in the reference's exact format (header with
    message count, ≤5 sample messages, truncation marker, footer)."""
    import math

    root = tmp_path_factory.mktemp("debugtap")
    debug = root / "debug" / "sent_batches.txt"
    trips = load_trip_csv(spark, taxi_csv)
    replay_to_ndjson(
        trips,
        stage_dir=str(root / "stage"),
        output_dir=str(root / "streaming"),
        batch_size=BATCH,
        debug_file=str(debug),
    )
    text = debug.read_text()
    n_batches = math.ceil(N_ROWS / BATCH)
    assert text.count("===== BATCH #") == n_batches
    # full batches announce BATCH message count and truncate to 5 lines
    assert f"({BATCH} messages) =====" in text
    assert "... (plus de données)" in text
    assert text.count("=" * 38) == n_batches


def test_raw_output_schema_and_rowcount(spark, pipeline_run):
    raw = spark.read.json(str(pipeline_run["root"] / "processed" / "raw"))
    assert raw.count() == N_ROWS
    assert set(RAW_OUTPUT_COLUMNS) <= set(raw.columns)


def test_stream_agg_equals_batch_agg(spark, pipeline_run):
    """Union of per-batch pickup counts == one-shot batch counts."""
    pickup = spark.read.json(
        str(pipeline_run["root"] / "processed" / "pickup_agg")
    )
    total_by_loc = (
        pickup.groupBy("PULocationID")
        .agg(F.sum("trip_count").alias("n"))
        .collect()
    )
    expected = {
        r["PULocationID"]: r["count"]
        for r in pipeline_run["trips"].groupBy("PULocationID").count().collect()
    }
    got = {r["PULocationID"]: r["n"] for r in total_by_loc}
    assert got == expected


def test_combined_union_tags(spark, pipeline_run):
    combined = spark.read.json(
        str(pipeline_run["root"] / "processed" / "combined_agg")
    )
    tags = {r[0] for r in combined.select("aggregation_type").distinct().collect()}
    assert tags == {"pickup_location", "dropoff_location"}
    # sum of pickup-tag counts == input rows (count preservation)
    n = (
        combined.filter(F.col("aggregation_type") == "pickup_location")
        .agg(F.sum("trip_count"))
        .collect()[0][0]
    )
    assert n == N_ROWS


def test_batch_ids_are_per_microbatch(spark, pipeline_run):
    """Intent-correct §1.3 fix: multiple micro-batches → multiple
    batch_ids (the reference bug would yield exactly one)."""
    raw = spark.read.json(str(pipeline_run["root"] / "processed" / "raw"))
    n_batches = raw.select("batch_id").distinct().count()
    assert n_batches > 1


def test_checkpoint_restart_no_reprocessing(spark, pipeline_run):
    """Restarting over the same checkpoint must not re-append rows."""
    cfg = pipeline_run["cfg"]
    q = start_consumer(spark, cfg, available_now=True)
    assert q.awaitTermination(600), "stream did not terminate within 600s"
    raw = spark.read.json(str(pipeline_run["root"] / "processed" / "raw"))
    assert raw.count() == N_ROWS


def test_null_timestamps_repaired(spark, pipeline_run):
    raw = spark.read.json(str(pipeline_run["root"] / "processed" / "raw"))
    assert raw.filter(F.col("tpep_pickup_datetime").isNull()).count() == 0


def test_no_data_marker_and_raise(spark, taxi_csv, tmp_path_factory):
    """Reference parity (MainProducer.scala:56-72): zero valid rows →
    ERROR_NO_DATA_FOUND.txt marker + raise; marker is invisible to the
    consumer's *.json-globbed dir source."""
    from esgi_4iabd2_sparkstreaming_groupe13_spark.streaming.producer import (
        ERROR_MARKER_NAME,
    )

    root = tmp_path_factory.mktemp("nodata")
    trips = load_trip_csv(spark, taxi_csv).filter(F.lit(False))
    with pytest.raises(RuntimeError, match="no valid rows"):
        replay_to_ndjson(
            trips,
            stage_dir=str(root / "stage"),
            output_dir=str(root / "streaming"),
            batch_size=BATCH,
        )
    marker = root / "streaming" / ERROR_MARKER_NAME
    assert marker.exists()
    assert "Aucune donnée valide" in marker.read_text()

    # the marker must not be picked up as stream data
    cfg = ConsumerConfig(
        input_dir=str(root / "streaming"),
        output_dir=str(root / "processed"),
        checkpoint_dir=str(root / "ckpt"),
    )
    q = start_consumer(spark, cfg, available_now=True)
    assert q.awaitTermination(600), "stream did not terminate within 600s"
    import os

    raw_dir = str(root / "processed" / "raw")
    assert not os.path.exists(raw_dir) or (
        spark.read.parquet(raw_dir).count() == 0
    )


def test_empty_batch_marker(tmp_path_factory):
    """Reference parity (FileSender.scala:85-109): an empty staged
    batch publishes an empty-batch{N}-{ts}.txt marker."""
    from esgi_4iabd2_sparkstreaming_groupe13_spark.streaming.producer import (
        publish_batches,
    )

    root = tmp_path_factory.mktemp("emptybatch")
    stage = root / "stage" / "batch_no=0"
    stage.mkdir(parents=True)  # batch dir with no part files
    published = publish_batches(str(root / "stage"), str(root / "out"))
    assert len(published) == 1
    assert published[0].endswith(".txt")
    assert "empty-batch0-" in published[0]
