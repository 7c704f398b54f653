"""Stateful streaming operators (T7 upgrade — the reference has no
cross-batch state; SURVEY §2.9 T7).

Sessionization is expressed with the engine's declarative operators:
:func:`sessionize_native` groups by ``user_id`` and a built-in
``session_window``, so gap merging, state and watermark eviction all
stay inside the JVM's hash aggregation — no Python worker and no
custom state schema. It runs unchanged on batch and streaming frames;
:func:`sessionize_batch_oracle` (window-function gaps-and-islands) is
its equivalence oracle.

The dedup and media operators below are watermark-bounded
``dropDuplicatesWithinWatermark`` stages: state per key is evicted
once event time passes the watermark, so the state store holds only
(watermark delay x arrival rate) keys however long the stream runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sessionize_native(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str | None = None,
) -> DataFrame:
    """Sessionize ``events`` by ``user_id`` with an inactivity gap,
    on Spark's built-in gap-merging ``session_window``.

    Emits one row per session: ``(user_id, session_start, session_end,
    n_events)``, with start/end the min/max event time (not the
    window's end = last + gap). An event exactly ``gap`` after its
    predecessor MERGES (Spark merges when next_start <= prev_end; a
    split needs diff > gap), which is the boundary rule of
    :func:`sessionize_batch_oracle` and the DuckDB oracle.

    Works unchanged on a batch or streaming frame. Pass ``watermark``
    for streaming: append mode then emits each session exactly once,
    when the watermark passes its close point (the session can no
    longer change), and the engine evicts its state.
    """
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(
            "user_id", F.session_window("ts", f"{gap_seconds} seconds")
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def sessionize_batch_oracle(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Batch-mode session computation (classic gaps-and-islands via
    window functions) — the equivalence oracle for
    :func:`sessionize_native`: its streaming sessions must be a subset
    of (and at steady state equal to) these."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    # gap test in integer microseconds — exact, and identical to the
    # DuckDB oracle's µs arithmetic
    gapped = (
        events.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            (
                F.col("prev_ts").isNull()
                | (
                    F.unix_micros("ts") - F.unix_micros("prev_ts")
                    > gap_seconds * 1_000_000
                )
            ).cast("int"),
        )
        .withColumn(
            "session_no",
            F.sum("new_session")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long"),
        )
    )
    return gapped.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native streaming exact dedup: ``dropDuplicatesWithinWatermark``
    keeps the FIRST arrival of each key and drops re-deliveries that
    arrive within the event-time watermark (T7 surface; the reference
    has no cross-batch dedup — its at-least-once file sink re-emits on
    replay, ``StreamProcessor.scala:131-138``).

    Contrast with the ``ingest.py`` persisted-index loop: that one
    remembers ids FOREVER (a corpus-wide contract, state on disk);
    this one bounds state by the watermark delay — the right tool when
    duplicates only come from delivery retries/replays, which cluster
    within minutes of the original. State per key is evicted once the
    watermark passes its event time, so a 1000-executor job holds only
    (delay × arrival-rate) keys in the state store regardless of how
    long the stream has been running — the unbounded-key version of
    plain ``dropDuplicates`` on a stream would OOM the state store at
    100 TB.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def media_dedup_within_watermark(
    media_stream: DataFrame,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    on_unsupported: str = "null",
) -> DataFrame:
    """Streaming CONTENT-level media dedup: hash each arriving payload
    (one Arrow ``mapInPandas`` decode pass — works unchanged on a
    streaming DataFrame) and keep the FIRST arrival per
    (kind, decoded-content DIGEST) within the event-time watermark. A
    re-encoded copy landing micro-batches later (same pixels,
    different PNG row filter; same samples, different declared sample
    rate) digests identically and is dropped, while two DISTINCT
    contents that happen to share a perceptual hash (the measured
    ~1e-4 aHash collision floor, BASELINE r12 precision audit) both
    survive — the streaming twin of
    ``operators.multimodal.media_content_dedup``, keyed exactly like
    the batch exact tier since r13. The phash rides along in the
    output as the near-dup CANDIDATE key for downstream banded joins.

    State is bounded exactly like :func:`dedup_within_watermark`:
    (watermark delay x arrival rate) keys of 32-byte digests, evicted
    as event time passes — never payload bytes, which are consumed
    inside the decode batch. Corrupt payloads (audit default
    ``on_unsupported='null'``) are EXCLUDED from the deduped output —
    a NULL digest must not collapse all damaged files into one dedup
    key; run :func:`~..operators.multimodal.media_phash` in audit mode
    separately for the corruption report.

    Composing this stage with the streaming quality gate decodes every
    payload twice — use :func:`media_prep_stream` (r14) for the fused
    gate + dedup + contamination chain at ONE decode per micro-batch.
    """
    from ..operators.multimodal import media_hashes

    hashed = media_hashes(
        media_stream, on_unsupported=on_unsupported, extra_cols=[ts_col]
    )
    return (
        hashed.filter(F.col("digest").isNotNull())
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["kind", "digest"])
    )


def media_quality_gate_stream(
    media_stream: DataFrame,
    rules: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Streaming media quality gate: the batch rule table
    (``operators.multimodal.media_quality_report``) applied per
    micro-batch — ``mapInPandas`` decode + codegen rule projection are
    both stream-safe and STATELESS, so this composes with any
    downstream watermark/dedup stage and needs no state store at all.
    Emits the same explainable verdict row per arriving payload as the
    batch gate (pytest pins stream==batch on a planted-violation
    corpus split across micro-batches). Composing this stage with the
    watermark dedup decodes every payload twice — use
    :func:`media_prep_stream` (r14) for the fused chain at ONE decode
    per micro-batch."""
    from ..operators.multimodal import media_quality_report

    return media_quality_report(media_stream, rules=rules)


DEFAULT_BENCH_LITERAL_MAX = 512
"""Largest benchmark (hash count) embedded as a plan literal by
:func:`media_prep_stream`; above it the tag switches to a broadcast
stream-static join carrying the same array in broadcast DATA instead
of plan text (ADVICE r14: a multi-thousand-entry literal bloats every
micro-batch plan and risks Janino method limits). Both paths compute
the identical tag — pytest-pinned — so the threshold is a plan-shape
crossover, not a semantics knob."""


def media_prep_stream(
    media_stream: DataFrame,
    benchmark: DataFrame | None = None,
    rules: list[tuple[str, str]] | None = None,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    max_hamming: int = 3,
    decode_partitions: int | None | str = "auto",
    bench_literal_max: int = DEFAULT_BENCH_LITERAL_MAX,
) -> DataFrame:
    """FUSED streaming media prep (VERDICT r13 item 3) — the streaming
    twin of ``operators.multimodal.prep_media``: quality gate ->
    watermark digest dedup -> benchmark contamination tag, with each
    micro-batch decoded EXACTLY ONCE. The r13 stage-by-stage streaming
    twins (:func:`media_dedup_within_watermark` after
    :func:`media_quality_gate_stream`) each ran their own
    ``mapInPandas`` decode — the same multi-decode cost the batch side
    removed with the fused ``prep_media`` (−42% on the composed 100x
    chain).

    Plan shape: ONE Arrow decode pass
    (``media_profile(extra_cols=[ts_col])`` — the event-time column
    rides through the decode batch) emits hashes + quality metrics;
    the rule gate is a codegen projection over that frame; the
    contamination tag is a JVM-side ``F.exists`` scan over the
    driver-collected benchmark hashes (brute-force ``bit_count(xor)``
    over all bench hashes per row is exactly the banded join's
    recall-1 result, stays JVM-side, and adds NO second Python stage
    and NO stream aggregation — the plan keeps exactly one Python
    pass and one stateful operator per micro-batch). Up to
    ``bench_literal_max`` hashes the array is embedded as a plan
    LITERAL (zero extra operators, whole-stage codegen); above it the
    same array rides a one-row BROADCAST stream-static join so plan
    size stays O(1) in the benchmark (ADVICE r14 — a 100k-hash
    literal would bloat every micro-batch plan; per-row tag cost is
    O(|bench|) on either path, so a genuinely huge benchmark belongs
    in the batch banded join of ``media_contamination``). Payloads
    never leave the decode batch; state is (watermark x arrival-rate)
    32-byte digests.

    ``decode_partitions="auto"`` (default since r15) repartitions each
    micro-batch to ``sparkContext.defaultParallelism`` before the
    decode: a micro-batch arriving as FEW source splits (the common
    file-source case — one NDJSON/parquet file per trigger, the
    reference's own S2 shape) otherwise decodes on as few cores, and
    decode is the whole cost of this pipeline. The shuffle moves
    payload bytes ONCE per micro-batch and buys decode parallelism =
    cluster width (measured 2.2k -> 8.4k payloads/s on a
    single-file-per-trigger stream on local[32], BASELINE r14/r15).
    Pass ``None`` to keep the source's own split count (pre-r15
    behavior; right when the source already delivers >= cluster-width
    splits and the extra shuffle of payload bytes would only cost),
    or an explicit int to pin the width (e.g. bytes-per-task sizing:
    payloads are MB-scale, so ~32-64 MB of payload per task is a good
    target when you know the arrival rate).

    Output: one row per ADMITTED first-arrival payload ``(media_id,
    kind, phash, digest, contamination, <ts_col>)`` — ``prep_media``'s
    admitted contract with representative = FIRST ARRIVAL in stream
    time rather than min media_id (pytest pins stream==batch on a
    fixture whose arrival order makes the two coincide, AND pins the
    contract itself on a fixture where they DIVERGE: the
    (kind, phash, digest, contamination) set stays equal while the
    representative id differs — VERDICT r14 item 5).
    ``contamination`` is 'exact' / 'candidate' / NULL with batch
    semantics: 'exact' needs Hamming 0 AND a digest match.
    """
    from ..operators.multimodal import (
        MEDIA_QUALITY_RULES,
        media_hashes,
        media_profile,
    )

    if decode_partitions == "auto":
        decode_partitions = (
            media_stream.sparkSession.sparkContext.defaultParallelism
        )
    elif isinstance(decode_partitions, str):
        raise ValueError(
            "decode_partitions must be 'auto', None, or an int — got "
            f"{decode_partitions!r}"
        )
    if decode_partitions is not None:
        media_stream = media_stream.repartition(int(decode_partitions))
    prof = media_profile(
        media_stream, on_unsupported="null", extra_cols=[ts_col]
    )
    rule_list = MEDIA_QUALITY_RULES if rules is None else rules
    fail_any = F.lit(False)
    for _, sql in rule_list:
        fail_any = fail_any | F.coalesce(F.expr(sql), F.lit(False))
    gated = prof.filter(~fail_any).filter(F.col("decoded") == 1).select(
        "media_id", "kind", "phash", "digest", ts_col
    )

    if benchmark is None:
        tagged = gated.withColumn(
            "contamination", F.lit(None).cast("string")
        )
    else:
        # one decode of the benchmark at plan-construction time; the
        # hashes then ride the plan as a literal array (<= threshold,
        # pure whole-stage codegen) or broadcast data (above it)
        bench_rows = (
            media_hashes(benchmark, on_unsupported="null")
            .filter(F.col("phash").isNotNull())
            .select("kind", "phash", "digest")
            .collect()
        )
        if not bench_rows:
            tagged = gated.withColumn(
                "contamination", F.lit(None).cast("string")
            )
        else:

            def _near(b):
                return (b["kind"] == F.col("kind")) & (
                    F.bit_count(b["phash"].bitwiseXOR(F.col("phash")))
                    <= F.lit(max_hamming)
                )

            def _exact(b):
                return (
                    (b["kind"] == F.col("kind"))
                    & (b["phash"] == F.col("phash"))
                    & (b["digest"] == F.col("digest"))
                )

            def _tag(arr):
                return (
                    F.when(F.exists(arr, _exact), F.lit("exact"))
                    .when(F.exists(arr, _near), F.lit("candidate"))
                    .otherwise(F.lit(None).cast("string"))
                )

            if len(bench_rows) <= bench_literal_max:
                # metadata-sized: pin the hashes straight into the plan
                bench_lit = F.array(
                    *[
                        F.struct(
                            F.lit(r.kind).alias("kind"),
                            F.lit(int(r.phash)).alias("phash"),
                            F.lit(r.digest).alias("digest"),
                        )
                        for r in bench_rows
                    ]
                )
                tagged = gated.withColumn("contamination", _tag(bench_lit))
            else:
                # big benchmark: the SAME array rides broadcast DATA —
                # a one-row static frame equi-joined (stream-static
                # broadcast, supported in append streams) on a constant
                # key, so the micro-batch plan stays O(1) in |bench|
                spark = media_stream.sparkSession
                bench_arr_df = (
                    spark.createDataFrame(
                        [
                            (r.kind, int(r.phash), r.digest)
                            for r in bench_rows
                        ],
                        schema="kind string, phash long, digest string",
                    )
                    .agg(
                        F.collect_list(
                            F.struct("kind", "phash", "digest")
                        ).alias("_bench")
                    )
                    .withColumn("_bj", F.lit(1))
                    # pin the 1-row array: stream-static re-scans the
                    # static side every micro-batch otherwise
                    .localCheckpoint()
                )
                tagged = (
                    gated.withColumn("_bj", F.lit(1))
                    .join(F.broadcast(bench_arr_df), "_bj", "left")
                    .withColumn("contamination", _tag(F.col("_bench")))
                    .drop("_bj", "_bench")
                )

    return (
        tagged.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["kind", "digest"])
        .select(
            "media_id", "kind", "phash", "digest", "contamination", ts_col
        )
    )
