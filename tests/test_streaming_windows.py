"""Event-time windows + watermark on REAL streams (T5/T6 upgrade), and
stateful streaming sessionization (T7 upgrade)."""

from __future__ import annotations

import pytest

from esgi_4iabd2_sparkstreaming_groupe13_spark.operators.windows import (
    sliding_window_agg,
    tumbling_window_agg,
)
from esgi_4iabd2_sparkstreaming_groupe13_spark.sources.batch import load_table
from esgi_4iabd2_sparkstreaming_groupe13_spark.streaming.stateful import (
    sessionize_batch_oracle,
    sessionize_native,
)


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """Stage the events table as NDJSON files for streaming reads."""
    d = tmp_path_factory.mktemp("events_stream")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # Range-partition by ts so file order ≈ event-time order (a real
    # stream's arrival pattern; disorder stays within the watermark).
    (
        ev.repartitionByRange(4, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .json(str(d / "src"))
    )
    # Spark's JSON writer emits millisecond timestamps — read the
    # staged files back so batch oracles see EXACTLY what streams see.
    ev_json = spark.read.schema(ev.schema).json(str(d / "src"))
    return {"dir": str(d), "events": ev_json}


def _run_stream_to_memory(spark, stream_df, name, ckpt):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination returns False on timeout WITHOUT raising — an
    # unfinished availableNow run would silently hand back a partial
    # memory table (flaky subset/ratio assertions under suite load).
    # Generous cap + explicit assert turns that into a clear failure.
    assert q.awaitTermination(600), "stream did not terminate within 600s"
    return spark.table(name)


def test_streaming_tumbling_window_equals_batch(spark, events_stream_dir):
    """Windowed agg over a watermarked stream (availableNow) must equal
    the batch computation of the same windows."""
    ev = events_stream_dir["events"]
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .json(events_stream_dir["dir"] + "/src")
    )
    windowed = tumbling_window_agg(
        stream, "ts", "1 hour", ["event_type"], watermark="2 hours"
    )
    got = _run_stream_to_memory(
        spark, windowed, "tumbling_mem", events_stream_dir["dir"] + "/ckpt_t"
    )
    batch = tumbling_window_agg(ev, "ts", "1 hour", ["event_type"])

    g = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in got.collect()
    }
    b = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in batch.collect()
    }
    # append-mode only emits windows the watermark has closed; every
    # emitted window must match batch exactly, and most windows close
    assert len(g) > 0
    for k, v in g.items():
        assert b[k] == v
    closed_fraction = len(g) / len(b)
    assert closed_fraction > 0.9


def test_sliding_window_batch_shape(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = sliding_window_agg(ev, "ts", "2 hours", "1 hour", ["event_type"])
    rows = out.limit(5).collect()
    assert rows
    for r in rows:
        delta = (r["window_end"] - r["window_start"]).total_seconds()
        assert delta == 7200


def test_sessionize_on_rocksdb_state_store(spark, events_stream_dir, tmp_path):
    """The 100M-key state path: RocksDB state store provider (disk-
    backed, bounded heap) must produce the same finalized sessions as
    the default HDFS-backed in-memory provider."""
    ev = events_stream_dir["events"]
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", ""
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .json(events_stream_dir["dir"] + "/src")
        )
        GAP = 6 * 3600
        sessions = sessionize_native(
            stream, gap_seconds=GAP, watermark="12 hours"
        )
        got = _run_stream_to_memory(
            spark, sessions, "sessions_rocks", str(tmp_path / "ckpt_rocks")
        )
        got_set = {
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in got.collect()
        }
        oracle_all = {
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in sessionize_batch_oracle(ev, gap_seconds=GAP).collect()
        }
        assert got_set
        assert got_set <= oracle_all
    finally:
        if prev:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_streaming_dedup_with_watermark(spark, events_stream_dir, tmp_path):
    """Streaming exact dedup: duplicated input events collapse to one
    row each via watermarked dropDuplicates (state evicted past the
    watermark — the bounded-state streaming dedup primitive)."""
    ev = events_stream_dir["events"]
    dup_dir = str(tmp_path / "dups")
    # stage every event TWICE across different files
    ev.repartitionByRange(2, "ts").write.mode("overwrite").json(dup_dir)
    ev.repartitionByRange(2, "ts").write.mode("append").json(dup_dir)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .json(dup_dir)
    )
    deduped = stream.withWatermark("ts", "48 hours").dropDuplicates(
        ["event_id"]
    )
    got = _run_stream_to_memory(
        spark, deduped, "dedup_mem", str(tmp_path / "ckpt")
    )
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_sessionize_stream_matches_batch_oracle(spark, events_stream_dir):
    """Streaming sessionizer: sessions the watermark closed == batch
    gaps-and-islands sessions (for users whose sessions closed)."""
    ev = events_stream_dir["events"]
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .json(events_stream_dir["dir"] + "/src")
    )
    GAP = 6 * 3600  # 6h inactivity gap → several sessions per user
    sessions = sessionize_native(stream, gap_seconds=GAP, watermark="12 hours")
    got = _run_stream_to_memory(
        spark, sessions, "sessions_mem", events_stream_dir["dir"] + "/ckpt_s"
    )
    oracle = sessionize_batch_oracle(ev, gap_seconds=GAP)

    got_set = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in got.collect()
    }
    oracle_all = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in oracle.collect()
    }
    # every watermark-finalized streaming session is a true batch
    # session — exactly-once and immutable
    assert got_set, "no sessions finalized during the run"
    assert got_set <= oracle_all
    # and finalized sessions account for most batch sessions (the tail
    # within watermark+gap of stream end legitimately stays open)
    assert len(got_set) / len(oracle_all) > 0.5


def test_session_window_native_stream_matches_batch(spark, events_stream_dir):
    """Native session_window operator (fully JVM-side): streaming
    append-mode sessions must be a subset of (and cover most of) the
    SAME operator's batch result — which in turn equals the
    gaps-and-islands oracle (pinned by q_session_window's DuckDB
    gate)."""
    ev = events_stream_dir["events"]
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .json(events_stream_dir["dir"] + "/src")
    )
    GAP = 6 * 3600
    got = _run_stream_to_memory(
        spark,
        sessionize_native(stream, gap_seconds=GAP, watermark="12 hours"),
        "native_sessions_mem",
        events_stream_dir["dir"] + "/ckpt_ns",
    )
    batch = sessionize_native(ev, gap_seconds=GAP)
    got_set = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in got.collect()
    }
    batch_set = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch.collect()
    }
    assert got_set, "no sessions emitted during the run"
    assert got_set <= batch_set
    assert len(got_set) / len(batch_set) > 0.5
    # and the native batch form agrees exactly with the
    # gaps-and-islands oracle
    oracle_set = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize_batch_oracle(ev, gap_seconds=GAP).collect()
    }
    assert batch_set == oracle_set


def test_streaming_admission_filter_matches_batch(spark, tmp_path):
    """Stream-static anti-join dedup admission: a stream of incoming
    docs filtered against a static corpus fingerprint set must admit
    exactly the batch answer (the batch form IS the oracle), dropping
    corpus duplicates even when whitespace/case differ."""
    from esgi_4iabd2_sparkstreaming_groupe13_spark.operators.dedup import (
        admit_new_documents,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    incoming = spark.createDataFrame(
        [
            (10, "  ALPHA beta   gamma delta"),  # dup of 1 (normalized)
            (11, "fresh document one"),
            (12, "epsilon zeta eta theta"),      # dup of 2 (verbatim)
            (13, "fresh document two"),
        ],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "incoming")
    incoming.repartition(2).write.mode("overwrite").json(src)
    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    admitted = admit_new_documents(stream, corpus, "text", "doc_id")
    got = _run_stream_to_memory(
        spark, admitted, "admit_mem", str(tmp_path / "ckpt_admit")
    )
    batch = admit_new_documents(incoming, corpus, "text", "doc_id")
    assert {r.doc_id for r in got.collect()} == {11, 13}
    assert {r.doc_id for r in got.collect()} == {
        r.doc_id for r in batch.collect()
    }
