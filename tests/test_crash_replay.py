"""Crash-replay exactly-once proof for the idempotent sink mode
(VERDICT r10 item 5; SURVEY §7 risk 3).

The worst at-least-once hazard in foreachBatch pipelines: a batch's
sink writes ALL land, then the process dies before the checkpoint
commit — on restart the engine replays the batch into already-written
directories. Plain appends duplicate every row of the replayed batch;
idempotent mode (partitionBy(batch_id) + dynamic partition overwrite)
replaces the batch's own partition and nothing else.

The test injects exactly that crash (raise AFTER process_batch
returns, BEFORE the engine commits), restarts from the same
checkpoint with start_consumer, and asserts zero duplicates per
directory. A control run in plain-append mode proves the harness
actually produces duplicates when unprotected.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryException

from esgi_4iabd2_sparkstreaming_groupe13_spark.config import ConsumerConfig
from esgi_4iabd2_sparkstreaming_groupe13_spark.sources.stream import (
    create_trip_stream,
)
from esgi_4iabd2_sparkstreaming_groupe13_spark.streaming.processor import (
    process_batch,
    start_consumer,
)
from esgi_4iabd2_sparkstreaming_groupe13_spark.streaming.synthetic import (
    synthetic_trip_batch,
)

N_ROWS = 60
N_FILES = 3  # → 3 micro-batches at max_files_per_trigger=1


def _run_with_crash(spark, root, idempotent: bool) -> ConsumerConfig:
    """availableNow drain that dies after batch 1's sinks are written
    but before its offset commits, then a clean restart over the same
    checkpoint. Returns the config (for reading outputs)."""
    src = str(root / "src")
    synthetic_trip_batch(spark, N_ROWS, N_FILES).write.mode("overwrite").json(src)
    cfg = ConsumerConfig(
        input_dir=src,
        output_dir=str(root / "out"),
        checkpoint_dir=str(root / "ckpt"),
        max_files_per_trigger=1,
        idempotent_sinks=idempotent,
    )

    def crashing_batch(df, bid):
        process_batch(
            df, bid, cfg.output_dir, cfg.output_format, idempotent=idempotent
        )
        if bid == 1:
            # sinks written, offset NOT committed → engine replays bid 1
            raise RuntimeError("injected crash after sink writes")

    q = (
        create_trip_stream(
            spark, cfg.input_dir, max_files_per_trigger=cfg.max_files_per_trigger
        )
        .writeStream.outputMode("append")
        .option("checkpointLocation", cfg.checkpoint_dir)
        .foreachBatch(crashing_batch)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination()

    # restart from the same checkpoint — the production entry point
    q2 = start_consumer(spark, cfg, available_now=True)
    assert q2.awaitTermination(600), "restart did not drain"
    return cfg


def _dup_stats(spark, cfg: ConsumerConfig) -> dict[str, tuple[int, int]]:
    """(total_rows, max_duplicate_multiplicity) per sink directory."""
    out = {}
    for name in ("raw", "pickup_agg", "dropoff_agg", "combined_agg"):
        df = spark.read.json(f"{cfg.output_dir}/{name}")
        dup = (
            df.groupBy(*df.columns)
            .agg(F.count(F.lit(1)).alias("_n"))
            .agg(F.max("_n"))
            .first()[0]
        )
        out[name] = (df.count(), int(dup))
    return out


def test_idempotent_sinks_survive_crash_replay(spark, tmp_path):
    cfg = _run_with_crash(spark, tmp_path, idempotent=True)
    stats = _dup_stats(spark, cfg)
    # zero duplicate rows in ANY directory...
    assert all(dup == 1 for _, dup in stats.values()), stats
    # ...and nothing lost either: full input row count in raw
    assert stats["raw"][0] == N_ROWS, stats


def test_plain_appends_duplicate_on_crash_replay(spark, tmp_path):
    """Control: the same crash under reference-parity appends MUST
    duplicate batch 1 — proving the injection is real and the
    idempotent result above is the mode, not the harness."""
    cfg = _run_with_crash(spark, tmp_path, idempotent=False)
    stats = _dup_stats(spark, cfg)
    assert stats["raw"][0] > N_ROWS, stats
    assert any(dup >= 2 for _, dup in stats.values()), stats
