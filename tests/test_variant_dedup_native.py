"""Spark-4 Variant JSON extraction + native watermark-bounded
streaming dedup (``dropDuplicatesWithinWatermark``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from esgi_4iabd2_sparkstreaming_groupe13_spark.operators.projections import (
    variant_extract,
)
from esgi_4iabd2_sparkstreaming_groupe13_spark.sources.batch import load_table
from esgi_4iabd2_sparkstreaming_groupe13_spark.streaming.stateful import (
    dedup_within_watermark,
)


def test_variant_extract_matches_string_path(spark, sf_dir):
    """parse_json→try_variant_get must agree with get_json_object on
    every row, and malformed payloads must yield NULL (try_ semantics),
    not an analysis/runtime error."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "props")
    via_variant = variant_extract(ev, "props", {"k_val": ("$.k", "long")})
    via_string = ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )
    assert via_variant.exceptAll(via_string).count() == 0
    assert via_string.exceptAll(via_variant).count() == 0

    broken = spark.createDataFrame(
        [(1, "not json"), (2, '{"k": "noncast"}'), (3, None)],
        "event_id long, props string",
    )
    rows = {
        r["event_id"]: r["k_val"]
        for r in variant_extract(
            broken, "props", {"k_val": ("$.k", "long")}
        ).collect()
    }
    assert rows == {1: None, 2: None, 3: None}


def test_dedup_within_watermark_drops_replayed_rows(spark, sf_dir, tmp_path):
    """A stream carrying every event TWICE (delivery-retry model: the
    duplicate arrives in a later micro-batch, same event time) must
    emit each event_id exactly once and match the batch distinct."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type")
        .filter(F.col("event_id") % 7 == 0)
    )
    src = str(tmp_path / "src")
    # file 0+1: originals (time-ordered); file 2+3: verbatim replays —
    # with maxFilesPerTrigger=1 the replay lands micro-batches later,
    # exercising the cross-batch state, while its event time is within
    # the watermark of the first arrival (identical ts).
    ev.repartitionByRange(2, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).json(src)
    ev.repartitionByRange(2, "ts").sortWithinPartitions("ts").write.mode(
        "append"
    ).json(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    # watermark must exceed the table's full event-time span (30 days):
    # files are dispatched in mtime order, which is RACY across the
    # concurrently-committed part files — if a late-range file lands
    # first, a small watermark would silently drop the early-range
    # originals as late data and the test would flake on file ordering
    deduped = dedup_within_watermark(
        stream, ["event_id"], ts_col="ts", watermark="60 days"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_native")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not terminate within 600s"
    out = spark.table("dedup_native")

    n_expected = ev.count()
    assert out.count() == n_expected
    assert out.select("event_id").distinct().count() == n_expected
