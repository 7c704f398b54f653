"""Scale-path mechanics: bucketed shuffle-free joins + idempotent
partition-overwrite sinks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from esgi_4iabd2_sparkstreaming_groupe13_spark.operators.bucketing import (
    colocated_join,
    write_bucketed,
)
from esgi_4iabd2_sparkstreaming_groupe13_spark.sources.batch import load_table
from esgi_4iabd2_sparkstreaming_groupe13_spark.streaming.processor import (
    process_batch,
)


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "orderkey"
    )
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_orderkey", "orderkey"
    )
    write_bucketed(li, "li_bucketed", "orderkey", 8)
    write_bucketed(orders, "orders_bucketed", "orderkey", 8)
    return li, orders


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    """Both sides bucketed on the join key → no shuffle in the plan.

    At test scale the planner would pick broadcast instead (tables fit
    under the threshold) — disable it to emulate the two-large-facts
    case bucketing exists for.
    """
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(
            spark, "li_bucketed", "orders_bucketed", "orderkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_correct(spark, bucketed_tables):
    li, orders = bucketed_tables
    expected = li.join(orders, "orderkey").count()
    got = colocated_join(spark, "li_bucketed", "orders_bucketed", "orderkey").count()
    assert got == expected


def test_bucketed_agg_avoids_shuffle(spark, bucketed_tables):
    """Bonus of bucketing: groupBy on the bucket key also skips the
    exchange (partial agg is already co-located)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        agg = (
            spark.table("li_bucketed")
            .groupBy("orderkey")
            .agg(F.count("*").alias("n"))
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.fixture()
def taxi_batch(spark):
    from datetime import datetime

    from pyspark.sql import Row

    from esgi_4iabd2_sparkstreaming_groupe13_spark.schemas import TRIP_SCHEMA

    rows = [
        Row(
            VendorID=1,
            tpep_pickup_datetime=datetime(2024, 1, 1, 8, i),
            tpep_dropoff_datetime=datetime(2024, 1, 1, 9, i),
            passenger_count=1.0,
            trip_distance=2.0,
            RatecodeID=1.0,
            store_and_fwd_flag="N",
            PULocationID=100 + i % 2,
            DOLocationID=200,
            payment_type=1,
            fare_amount=10.0,
            extra=0.0,
            mta_tax=0.5,
            tip_amount=0.0,
            tolls_amount=0.0,
            improvement_surcharge=1.0,
            total_amount=11.5,
            congestion_surcharge=0.0,
            Airport_fee=0.0,
        )
        for i in range(12)
    ]
    return spark.createDataFrame(rows, TRIP_SCHEMA)


def test_idempotent_sink_replay_safe(spark, taxi_batch, tmp_path):
    """Replaying a micro-batch in idempotent mode must not duplicate;
    parity append mode must double (documented at-least-once)."""
    out_i = str(tmp_path / "idem")
    process_batch(taxi_batch, 5, out_i, idempotent=True)
    process_batch(taxi_batch, 5, out_i, idempotent=True)  # crash-replay
    raw = spark.read.json(f"{out_i}/raw")
    assert raw.count() == 12

    out_a = str(tmp_path / "append")
    process_batch(taxi_batch, 5, out_a, idempotent=False)
    process_batch(taxi_batch, 5, out_a, idempotent=False)
    raw_a = spark.read.json(f"{out_a}/raw")
    assert raw_a.count() == 24


def test_idempotent_sink_distinct_batches_accumulate(spark, taxi_batch, tmp_path):
    """Different batch_ids land in different partitions — both kept."""
    out = str(tmp_path / "multi")
    process_batch(taxi_batch, 1, out, idempotent=True)
    process_batch(taxi_batch, 2, out, idempotent=True)
    raw = spark.read.json(f"{out}/raw")
    assert raw.count() == 24
    assert raw.select("batch_id").distinct().count() == 2


def test_idempotent_sinks_leave_session_conf_unchanged(spark, taxi_batch, tmp_path):
    """Dynamic partition overwrite is a per-writer option: the sink
    writes must neither read nor change the session's
    partitionOverwriteMode, which every other query on the session
    shares. Under a STATIC session default, distinct batches must
    still accumulate (a static overwrite would wipe batch 1)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        out = str(tmp_path / "conf")
        process_batch(taxi_batch, 1, out, idempotent=True)
        process_batch(taxi_batch, 2, out, idempotent=True)
        assert spark.conf.get(key) == "STATIC"
        assert spark.read.json(f"{out}/raw").count() == 24
    finally:
        spark.conf.set(key, prev)
