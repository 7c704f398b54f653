"""Window functions and batch slicing (reference W1) + event-time
windows (M4(c) — the reference's declared-but-unbuilt T5/T6 surface).

The reference's batch extractor is ``row_number().over(Window.orderBy
("tpep_pickup_datetime"))`` re-run per batch (``ProducerOperations.
scala:131-150``) — a no-partitionBy window that collapses to ONE
partition (SURVEY §4 anti-pattern). Here:

* ``row_number_slice`` keeps the parity shape for small/oracle use;
* ``global_row_index`` is the scale path: range-repartition on the sort
  key, sort within partitions, read the per-partition local rank off
  ``monotonically_increasing_id()`` (its low 33 bits are the 0-based
  row offset within the partition, assigned in row-flow order — i.e.
  already the sorted rank; zero extra exchange), then add per-partition
  base offsets computed from a tiny count-per-partition aggregate that
  is broadcast back. ONE full-data shuffle total — the earlier
  ``Window.partitionBy(_pid)`` realization paid a second full-data
  Exchange because Catalyst can't prove rows are already clustered by
  a derived ``_pid``. Works unchanged on 10^11 rows (local rank needs
  < 2^33 rows per partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import round_half_away


def row_number_slice(
    df: DataFrame,
    order_cols: list[str],
    start: int,
    batch_size: int,
    index_col: str = "row_num",
) -> DataFrame:
    """W1+P4+P5 parity (``ProducerOperations.scala:138-143``): number
    rows globally in ``order_cols`` order, keep (start, start+size],
    drop the index. ``order_cols`` should be a total order (add key
    tiebreakers) or the slice is nondeterministic."""
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return (
        df.withColumn(index_col, F.row_number().over(w))
        .filter(F.col(index_col).between(start + 1, start + batch_size))
        .drop(index_col)
    )


def _pinned_local(local: DataFrame) -> DataFrame:
    """Materialize the ``(_pid, _local_rn0 | _local_sum)`` frame ONCE
    before its two consumers (the per-partition metadata aggregate and
    the final broadcast-rejoin) read it.

    This is a CORRECTNESS requirement, not a cache optimization: the
    `_pid` values come from the physical layout of the range exchange,
    and under AQE the partition COUNT of an un-materialized exchange
    is decided per execution from runtime statistics — two executions
    of the same plan can coalesce to different layouts (observed: a
    composed pipeline at 20× lost 97% of its rows, nondeterministically,
    because the offsets branch saw one layout and the rejoin recomputed
    under another, so most `_pid`s had no offset row and the inner join
    silently dropped them). Persisting pins ONE layout for both
    consumers — and saves recomputing the full upstream plan besides.
    Registered with the tracked-persist registry; query entry points
    release it after their action like every other operator persist.

    ``SPARK_GRAFT_UNPIN_LOCAL=1`` bypasses the pin — MEASUREMENT
    ONLY (it re-exposes the AQE layout race above): it exists so the
    layout-pin's steady-state cost can be A/B'd on the same commit
    (BASELINE.md r10). Never set it in a correctness-bearing run —
    :func:`refuse_unpinned` enforces that in the oracle gate and the
    durable writers (shard export, state folds).
    """
    import os

    from .caching import track_persist

    if os.environ.get("SPARK_GRAFT_UNPIN_LOCAL") == "1":
        return local
    return track_persist(local)


def refuse_unpinned(context: str) -> None:
    """Hard-fail a correctness-bearing entry point when the bench-only
    layout-pin bypass is set in the environment: the env var is
    process-global, so a shell that exported it for an A/B bench and
    then runs the oracle gate or a durable export would silently
    re-expose the AQE layout race `_pinned_local` exists to close
    (nondeterministic row loss). Measurement code (bench.py,
    scale_probe A/Bs) never calls this."""
    import os

    if os.environ.get("SPARK_GRAFT_UNPIN_LOCAL") == "1":
        raise RuntimeError(
            f"SPARK_GRAFT_UNPIN_LOCAL=1 is set but {context} is a "
            "correctness-bearing run: the unpinned layout race can "
            "silently lose rows. Unset the variable (it exists only "
            "for same-commit layout-pin A/B benchmarks)."
        )


def _partition_base_offsets(
    counts: DataFrame, value_col: str, acc_type: str = "decimal(28,6)"
) -> DataFrame:
    """Exclusive prefix sum over one-row-per-partition metadata,
    returning ``(_pid, _base)``.

    A ``Window.orderBy`` with no partitionBy would be correct here (the
    input is P rows of metadata, not data) but logs a `WindowExec: No
    Partition Defined` warning per use, burying real single-partition
    regressions in bench logs. Instead: collapse the P rows into ONE
    array row (sorted by ``_pid``), run the prefix scan inside a
    higher-order ``aggregate`` (O(P) adds on driver-size metadata),
    and explode back out. Still one tiny single-row stage — by design,
    and now silent.

    ``acc_type`` picks the accumulator dtype: exact decimal for
    integral inputs (row counts, token counts — the default), native
    ``double`` for fractional inputs, whose values would otherwise
    round at the decimal's 1e-6 scale and overflow to NULL past 1e22
    (ADVICE r4). Callers dispatch on the input column's dtype.
    """
    return (
        counts.groupBy()
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("_pid"),
                        F.col(value_col).cast(acc_type).alias("_v"),
                    )
                )
            ).alias("_pc")
        )
        .select(
            F.explode(
                F.expr(
                    "aggregate(_pc, "
                    "named_struct("
                    f"'acc', cast(0 as {acc_type}), "
                    "'out', cast(array() as "
                    f"array<struct<_pid:int,_base:{acc_type}>>)), "
                    "(s, x) -> named_struct("
                    f"'acc', cast(s.acc + x._v as {acc_type}), "
                    "'out', array_append(s.out, "
                    "named_struct('_pid', x._pid, '_base', s.acc))), "
                    "s -> s.out)"
                )
            ).alias("_o")
        )
        .select(F.col("_o._pid").alias("_pid"), F.col("_o._base").alias("_base"))
    )


def global_row_index(
    df: DataFrame,
    order_cols: list[str],
    index_col: str = "row_idx",
    num_partitions: int | None = None,
) -> DataFrame:
    """Scale-safe contiguous 1-based global index in ``order_cols``
    order (replaces the reference's single-partition window,
    ``ProducerOperations.scala:131-150``).

    Phase 1: range-repartition by the sort key, ``sortWithinPartitions``
    (same Exchange — the sort is partition-local), then derive the
    0-based local rank from ``monotonically_increasing_id()``: Spark
    documents its layout as ``partition_id << 33 | row_offset``, and the
    offset is assigned in row-flow order, i.e. the sorted order, so no
    window — and therefore no second full-data Exchange — is needed.
    Phase 2: per-partition counts (tiny: one row per partition) →
    cumulative base offset → broadcast-joined back on ``_pid``.

    ``order_cols`` must be a total order: the id is nondeterministic in
    general, but under a total order every recompute (task retry, plan
    branch re-execution) replays the identical row sequence, so ranks
    are stable.
    """
    order = [F.col(c) for c in order_cols]
    parted = (
        df.repartitionByRange(num_partitions, *order)
        if num_partitions
        else df.repartitionByRange(*order)
    ).sortWithinPartitions(*order)

    local = _pinned_local(
        parted.withColumn(
            "_mid", F.monotonically_increasing_id()
        ).select(
            "*",
            F.shiftright(F.col("_mid"), 33).cast("int").alias("_pid"),
            F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)).alias(
                "_local_rn0"
            ),
        )
    )

    # One row per partition — driver-size metadata, not data.
    offsets = _partition_base_offsets(
        local.groupBy("_pid").agg(F.count("*").alias("_cnt")), "_cnt"
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(
            index_col,
            (F.col("_base") + F.col("_local_rn0") + 1).cast("long"),
        )
        .drop("_mid", "_pid", "_local_rn0", "_base")
    )


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    sum_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Scale-safe INCLUSIVE global cumulative sum of ``value_col`` in
    ``order_cols`` order — same two-pass shape as
    :func:`global_row_index` (a naive ``Window.orderBy`` with no
    partitionBy funnels the whole table through ONE task).

    Phase 1: range-repartition on the sort key → per-partition local
    cumsum (parallel). Phase 2: per-partition totals (one row per
    partition) → exclusive prefix over those → broadcast back as base
    offsets. ``order_cols`` must be a total order for a deterministic
    result.

    Accumulation dtype follows the input (ADVICE r4): integral columns
    accumulate in exact decimal and emit ``long`` (overflow-checked by
    Spark, not silently truncated); decimal columns accumulate in
    ``decimal(38, input_scale)`` and emit that dtype (exact — money
    columns never lose sub-unit digits through a double detour);
    float/double columns accumulate natively in double — never rounded
    at 1e-6 or NULLed past decimal range.
    """
    order = [F.col(c) for c in order_cols]
    parted = (
        df.repartitionByRange(num_partitions, *order)
        if num_partitions
        else df.repartitionByRange(*order)
    )
    dtype = dict(df.dtypes)[value_col]
    integral = dtype in ("tinyint", "smallint", "int", "bigint")
    if integral:
        acc_type = "decimal(28,6)"
    elif dtype.startswith("decimal"):
        # keep decimal inputs EXACT: widen precision to the max,
        # preserve the input scale (routing them through double would
        # silently corrupt sub-unit digits of money-typed columns)
        scale = int(dtype.rstrip(")").split(",")[1])
        acc_type = f"decimal(38,{scale})"
    else:
        acc_type = "double"
    with_pid = parted.withColumn("_pid", F.spark_partition_id())
    local_w = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = _pinned_local(
        with_pid.withColumn("_local_sum", F.sum(value_col).over(local_w))
    )
    offsets = _partition_base_offsets(
        local.groupBy("_pid").agg(F.sum(value_col).alias("_tot")),
        "_tot",
        acc_type,
    )
    total = F.col("_base") + F.col("_local_sum")
    if integral:
        total = total.cast("long")
    elif acc_type.startswith("decimal"):
        total = total.cast(acc_type)  # stable output dtype
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(sum_col, total)
        .drop("_pid", "_local_sum", "_base")
    )


def lag_lead_delta(
    df: DataFrame,
    part_col: str,
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Analytic frame functions the reference lacks (SURVEY §2.5 "no
    rank/lag/lead"): per-group previous/next value and delta. One
    Window spec → a single shuffle on ``part_col``; all three
    expressions evaluate in the same WindowExec pass. ``order_cols``
    must be a total order within each partition."""
    w = Window.partitionBy(part_col).orderBy(*[F.col(c) for c in order_cols])
    prev = F.lag(value_col).over(w)
    return df.select(
        part_col,
        *order_cols,
        value_col,
        prev.alias("prev_value"),
        F.lead(value_col).over(w).alias("next_value"),
        (F.col(value_col) - prev).alias("delta_prev"),
    )


def lag_lead_delta_skew_safe(
    df: DataFrame,
    part_col: str,
    order_cols: list[str],
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """:func:`lag_lead_delta` output, bit-identical, without the skew
    trap: ``Window.partitionBy(group)`` ships EVERY row of a group
    into one task, so a whale group (one user with 10% of a 100 TB
    event stream) serializes into a single sort no cluster size can
    help — the same single-task wall :func:`equi_depth_bins` hit with
    per-group NTILE, and one Catalyst does NOT rewrite (WindowGroupLimit
    only covers rank-then-limit shapes; lag/lead needs every row).

    Scale-safe form (the :func:`global_row_index` partition-boundary
    technique extended to analytic functions):

    1. range-partition on ``(group, *order)`` — a group's rows land
       CONTIGUOUS across partitions, each partition memory-bounded;
    2. one local WindowExec per ``(partition, group)`` computes
       lag/lead/row_number — no row of a big group ever needs the
       other partitions' rows except at the two seams;
    3. a per-``(partition, group)`` bounds frame (first/last value +
       row count — ≤ P rows per group, METADATA-sized) gets its
       neighbours' seam values from a tiny window over itself, and is
       broadcast-joined back: the first row of each chunk takes the
       previous chunk's last value, the last row takes the next
       chunk's first value.

    Seam patching keys on ``row_number == 1`` / ``== count``, NOT on
    ``lag IS NULL`` — a null VALUE in the previous row must stay
    null, not trigger a patch. ``order_cols`` must be a total order
    within each group (the :func:`lag_lead_delta` contract already);
    ``num_partitions`` forces the range-partition count (tests split
    small frames; production leaves the session default).

    Cost trade vs the plain window: one extra tiny aggregate + a
    broadcast join, in exchange for per-task work bounded by
    partition size instead of group size. Measured at 100× with a
    90%-one-user skew: see BASELINE.md round 9.
    """
    ords = [F.col(c) for c in order_cols]
    parted = (
        df.repartitionByRange(num_partitions, F.col(part_col), *ords)
        if num_partitions is not None
        else df.repartitionByRange(F.col(part_col), *ords)
    )
    with_pid = parted.withColumn("_pid", F.spark_partition_id())
    wl = Window.partitionBy("_pid", part_col).orderBy(*ords)
    local = with_pid.select(
        part_col,
        *order_cols,
        value_col,
        F.col("_pid"),
        F.row_number().over(wl).alias("_rn"),
        F.lag(value_col).over(wl).alias("_lv"),
        F.lead(value_col).over(wl).alias("_nv"),
    )
    bounds = with_pid.groupBy("_pid", part_col).agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.min_by(F.col(value_col), F.struct(*ords)).alias("_first"),
        F.max_by(F.col(value_col), F.struct(*ords)).alias("_last"),
    )
    wb = Window.partitionBy(part_col).orderBy("_pid")
    seams = bounds.select(
        F.col("_pid"),
        F.col(part_col),
        F.col("_cnt"),
        F.lag("_last").over(wb).alias("_prev_last"),
        F.lead("_first").over(wb).alias("_next_first"),
    )
    prev = F.when(F.col("_rn") == 1, F.col("_prev_last")).otherwise(
        F.col("_lv")
    )
    nxt = F.when(F.col("_rn") == F.col("_cnt"), F.col("_next_first")).otherwise(
        F.col("_nv")
    )
    return local.join(F.broadcast(seams), ["_pid", part_col]).select(
        part_col,
        *order_cols,
        value_col,
        prev.alias("prev_value"),
        nxt.alias("next_value"),
        (F.col(value_col) - prev).alias("delta_prev"),
    )


def grouped_running_sum_skew_safe(
    df: DataFrame,
    part_col: str,
    order_cols: list[str],
    value_col: str,
    num_partitions: int | None = None,
    acc_type: str = "decimal(18,2)",
) -> DataFrame:
    """Per-group cumulative sum (``SUM OVER (PARTITION BY g ORDER BY o
    ROWS UNBOUNDED PRECEDING)``) without the whale-group single-task
    sort — the running-sum member of the skew-safe window family
    (:func:`lag_lead_delta_skew_safe` covers lag/lead;
    :func:`global_row_index` / :func:`global_running_sum` cover the
    GLOBAL un-grouped case this generalizes).

    Shape: range-partition on ``(group, *order)`` → local running sum
    per ``(partition, group)`` → per-``(partition, group)`` chunk
    totals (metadata-sized) get each chunk's EXCLUSIVE prefix via a
    tiny window over the bounds frame → broadcast join adds the base
    back. Decimal accumulation (``acc_type``) keeps chunked addition
    exact and order-independent, so the result is bit-identical to the
    plain window and to the SQL oracle.

    Null semantics match SQL ``SUM``: nulls never contribute, and the
    running sum is null only while NO non-null value has appeared yet
    in the group — ``coalesce(base + local, base, local)`` merges the
    chunk base (null iff all prior chunks all-null) with the local
    prefix (null iff no non-null yet in this chunk).
    """
    ords = [F.col(c) for c in order_cols]
    parted = (
        df.repartitionByRange(num_partitions, F.col(part_col), *ords)
        if num_partitions is not None
        else df.repartitionByRange(F.col(part_col), *ords)
    )
    with_pid = parted.withColumn("_pid", F.spark_partition_id())
    acc = F.col(value_col).cast(acc_type)
    wl = (
        Window.partitionBy("_pid", part_col)
        .orderBy(*ords)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = with_pid.select(
        part_col,
        *order_cols,
        value_col,
        F.col("_pid"),
        F.sum(acc).over(wl).alias("_local"),
    )
    bounds = with_pid.groupBy("_pid", part_col).agg(F.sum(acc).alias("_tot"))
    wb = (
        Window.partitionBy(part_col)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = bounds.select(
        F.col("_pid"),
        F.col(part_col),
        F.sum("_tot").over(wb).alias("_base"),
    )
    total = F.coalesce(
        (F.col("_base") + F.col("_local")).cast(acc_type),
        F.col("_base"),
        F.col("_local"),
    )
    return local.join(F.broadcast(bases), ["_pid", part_col]).select(
        part_col,
        *order_cols,
        value_col,
        total.cast("double").alias("running_sum"),
    )


def rolling_sum(
    df: DataFrame,
    part_col: str,
    order_cols: list[str],
    value_col: str,
    preceding: int = 2,
) -> DataFrame:
    """Moving frame aggregate (``ROWS BETWEEN n PRECEDING AND CURRENT
    ROW``) — the frame-spec surface the reference never uses.
    Decimal accumulation keeps the sum order-independent across
    engines; the sliding sum is streamed per partition inside one
    WindowExec (no shuffle beyond the partitionBy)."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-preceding, 0)
    )
    return df.select(
        part_col,
        *order_cols,
        value_col,
        F.sum(F.col(value_col).cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("rolling_sum"),
        F.count(F.lit(1)).over(w).alias("n_in_frame"),
    )


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    group_cols: list[str],
    watermark: str | None = None,
) -> DataFrame:
    """M4(c): event-time tumbling window count (works on batch and
    streaming frames; pass ``watermark`` on streams so state is
    bounded/evictable)."""
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (
        src.groupBy(F.window(F.col(ts_col), duration), *group_cols)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *group_cols,
            "n_events",
        )
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    group_cols: list[str],
    watermark: str | None = None,
) -> DataFrame:
    """M4(c): sliding event-time window aggregate."""
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (
        src.groupBy(F.window(F.col(ts_col), duration, slide), *group_cols)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *group_cols,
            "n_events",
        )
    )


def rate_anomalies(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    bucket: str = "day",
    trailing: int = 7,
    z_threshold: float = 2.0,
) -> DataFrame:
    """Per-key event-rate anomaly detection — the monitoring query a
    pipeline runs over its own ingest: bucket events per (key, period),
    then score each bucket's count against the TRAILING ``trailing``
    buckets' mean/stddev and flag |z| ≥ ``z_threshold``. The current
    bucket is excluded from its own baseline (frame ends at −1), so a
    spike can't suppress its own detection.

    Engine-exact determinism: the frame aggregates are pure INTEGER
    sums (Σn, Σn², count) — order-independent and exact — and mean,
    variance, and z derive from them through one explicitly-written
    double formula (``(Σn² − Σn·Σn/c)/(c−1)``), so Spark and the
    DuckDB oracle compute bit-identical doubles (no engine-internal
    streaming-variance algorithm is trusted). z is rounded to 6 dp and
    the flag compares the ROUNDED z. Buckets with fewer than 2
    trailing observations or zero variance yield NULL z and a false
    flag.

    Scale shape: one (key, bucket) hash aggregate (map-side combined —
    the shuffle carries bucket counts, not events), then a window over
    the BUCKET table (rows = keys × periods, orders of magnitude below
    event volume) partitioned by key. The rows-frame baseline is over
    OBSERVED buckets; densify (sequence + explode) upstream if
    gap-as-zero semantics are wanted.
    """
    counts = df.groupBy(
        F.col(key_col),
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy(key_col)
        .orderBy("bucket_ts")
        .rowsBetween(-trailing, -1)
    )
    sd = F.sum("n").over(w).cast("double")
    s2d = F.sum(F.col("n") * F.col("n")).over(w).cast("double")
    cd = F.count("n").over(w).cast("double")
    mean = sd / cd
    var = (s2d - sd * sd / cd) / (cd - 1)
    z = F.when(
        (cd >= 2) & (var > 0),
        F.round((F.col("n") - mean) / F.sqrt(var), 6),
    )
    return counts.select(
        F.col(key_col),
        F.col("bucket_ts"),
        F.col("n").cast("long").alias("n"),
        round_half_away(mean, 6).alias("trailing_mean"),
        z.alias("z"),
        F.coalesce(
            (z >= z_threshold) | (z <= -z_threshold), F.lit(False)
        ).alias("is_anomaly"),
    )


def event_transitions(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    type_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """User-journey transition matrix (new r7) — for every consecutive
    event pair within a user's timeline, count (from_type → to_type)
    and the share of each source type's outgoing transitions: the
    "what do users do next" table behind funnels and Markov-chain
    attribution.

    Scale shape: ONE user-key shuffle for the ``lead`` window (events
    per user stream through a partition-local sort); the pair
    aggregate map-side combines down to the type×type matrix, and the
    share normalization windows over that MATRIX (|types|² rows), not
    event volume. ``(ts_col, tiebreak_col)`` must be a total order per
    user, or lead() is nondeterministic under retries.

    Returns (from_type, to_type, n_transitions, share).
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col), F.col(tiebreak_col)
    )
    pairs = (
        df.withColumn("_next", F.lead(type_col).over(w))
        .filter(F.col("_next").isNotNull())
        .groupBy(
            F.col(type_col).alias("from_type"),
            F.col("_next").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )
    per_source = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_transitions",
        round_half_away(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(per_source).cast("double"),
            6,
        ).alias("share"),
    )


def funnel_stages(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    type_col: str,
    steps: list[str],
    max_gap_seconds: int | None = None,
) -> DataFrame:
    """Ordered multi-step funnel analysis — per user, the earliest
    time each step was reached GIVEN the previous step had already
    happened STRICTLY earlier (the classic conversion funnel:
    view → click → purchase; a purchase before any view does not
    count as stage 3).

    Single-shuffle formulation: the sequential dependency is expressed
    as CHAINED RUNNING-MIN windows over the same (user, ts) ordering —
    ``run_i`` = earliest step-i hit so far; a step-(i+1) event counts
    only when its ts exceeds ``run_i``. One Exchange on the user key
    serves every window, and the final per-user aggregate rides the
    same partitioning. The naive formulation (one aggregate + join-back
    PER STEP) shuffles ``len(steps)`` times; this shuffles once.

    ``max_gap_seconds`` (new r7) bounds each step to land within that
    many seconds of the EARLIEST previous-step completion — the
    anchored conversion-window form ("purchased within 48h of first
    qualifying click"). Anchoring to the earliest hit keeps the
    single-shuffle chained-running-min plan (the fully general
    any-path windowed funnel is a per-user sequence scan — a stateful
    operator, not a window); the anchor semantics are the ones most
    funnel products report.

    Returns (user, t_<step>..., stages_completed) — timestamps are
    exact (no float arithmetic), so the result hashes identically
    across engines.
    """
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cur = df
    prev_run: str | None = None
    for i, s in enumerate(steps):
        cond = F.col(type_col) == s
        if prev_run is not None:
            cond = cond & (F.col(ts_col) > F.col(prev_run))
            if max_gap_seconds is not None:
                cond = cond & (
                    F.col(ts_col)
                    <= F.col(prev_run)
                    + F.expr(f"INTERVAL {int(max_gap_seconds)} SECONDS")
                )
        cur = cur.withColumn(f"_hit{i}", F.when(cond, F.col(ts_col)))
        if i < len(steps) - 1:
            cur = cur.withColumn(f"_run{i}", F.min(f"_hit{i}").over(w))
            prev_run = f"_run{i}"
    out = cur.groupBy(user_col).agg(
        *[F.min(f"_hit{i}").alias(f"t_{s}") for i, s in enumerate(steps)]
    )
    stage = F.lit(0)
    for i, s in enumerate(steps):
        stage = F.when(
            F.col(f"t_{s}").isNotNull(), F.lit(i + 1)
        ).otherwise(stage)
    return out.withColumn("stages_completed", stage.cast("long"))


def scale_safe_group_ranks(
    df: DataFrame,
    part_col: str,
    order_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group 1-based ranks over a TOTAL order without the
    per-group single-task sort ``row_number().over(partitionBy(g))``
    pays (factored out of :func:`equi_depth_bins`' r7 rewrite so
    every rank-bounded selection — NTILE allocation, mixture quotas —
    shares one audited implementation).

    Technique: range-partition by (group, order) and sort within
    partitions — a group's rows flow in order across partitions;
    derive partition-local offsets from ``monotonically_increasing_id``
    (documented ``pid << 33 | row_offset`` layout); lift to per-group
    global ranks via (partition, group) metadata — row count + the
    group's first local offset, at most P + G rows, window-scanned as
    metadata and broadcast back. ``order_cols`` must end in a unique
    key (total order: task retries must replay the identical row
    sequence).

    Returns the input columns plus ``_rank`` (1-based within group)
    and ``_grp_n`` (group size).
    """
    order = [F.col(part_col)] + [F.col(c) for c in order_cols]
    parted = (
        df.repartitionByRange(num_partitions, *order)
        if num_partitions
        else df.repartitionByRange(*order)
    ).sortWithinPartitions(*order)
    local = _pinned_local(
        parted.withColumn(
            "_mid", F.monotonically_increasing_id()
        ).select(
            "*",
            F.shiftright(F.col("_mid"), 33).cast("int").alias("_pid"),
            F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)).alias(
                "_local_rn0"
            ),
        )
    )
    # (partition, group) metadata: row count, plus the group's FIRST
    # local offset in that partition (min local id — no prefix scan
    # needed to locate the group inside its partition)
    meta = local.groupBy("_pid", part_col).agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.min("_local_rn0").alias("_grp_start"),
    )
    wprev = (
        Window.partitionBy(part_col)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy(part_col)
    meta = meta.select(
        "_pid",
        part_col,
        "_grp_start",
        F.coalesce(F.sum("_cnt").over(wprev), F.lit(0)).alias("_grp_base"),
        F.sum("_cnt").over(wall).alias("_grp_n"),
    )
    joined = local.join(F.broadcast(meta), ["_pid", part_col])
    rank = (
        F.col("_grp_base")
        + (F.col("_local_rn0") - F.col("_grp_start"))
        + F.lit(1)
    )
    return joined.withColumn("_rank", rank.cast("long")).drop(
        "_mid", "_pid", "_local_rn0", "_grp_start", "_grp_base"
    )


def ntile_from_rank(rank: Column, n: Column, k: Column) -> Column:
    """SQL-standard ``NTILE(k)`` bucket computed ARITHMETICALLY from a
    1-based ``rank`` and group size ``n`` (no window, no per-group
    single-task sort): with ``q = n div k`` and ``rem = n mod k``, the
    first ``rem`` buckets hold ``q + 1`` rows, the rest ``q`` — the
    larger-buckets-first allocation both Spark and DuckDB implement.
    Bit-identical to ``ntile()`` over the same total order; the one
    audited copy of the derivation :func:`equi_depth_bins` pins
    against its oracle (every rank-to-bucket consumer — equi-depth
    bins, perplexity tertiles — must share it, not restate it)."""
    q = F.floor(n / k)
    rem = n % k
    big = q + F.lit(1)
    return F.when(rank <= big * rem, F.ceil(rank / big)).otherwise(
        rem + F.ceil((rank - big * rem) / q)
    )


def equi_depth_bins(
    df: DataFrame,
    part_col: str,
    order_cols: list[str],
    value_col: str,
    n_bins: int = 10,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group equi-depth (equal-frequency) binning — the decile
    profile a pipeline builds to calibrate features or stratify
    sampling: the NTILE(``n_bins``) allocation over a TOTAL order,
    then per-bin count / min / max of the value.

    Determinism contract: ``order_cols`` must end in a unique key —
    the NTILE allocation (larger buckets first, SQL standard,
    identical in Spark and DuckDB) is only reproducible over a total
    order, and the rank derivation below additionally relies on it
    (task retries must replay the identical row sequence).

    Scale shape (r7 rewrite — the r6 form was literal
    ``ntile().over(Window.partitionBy(group))``, which serializes each
    group into ONE partition's sort; the 100× probe measured 86 s on
    3 groups = 3 tasks no matter how many executors): range-partition
    by (group, order) so a group SPANS partitions in sorted order,
    derive partition-local ranks from ``monotonically_increasing_id``
    (documented ``pid << 33 | row_offset`` layout, offsets in sorted
    row-flow order — the :func:`global_row_index` technique), lift
    them to per-group global ranks via (partition, group) count
    metadata — at most P+G rows, window-scanned as metadata and
    broadcast back — and compute the NTILE bucket arithmetically from
    (rank, group size): with q = n div k, rem = n mod k, the first
    ``rem`` buckets hold q+1 rows. Output is bit-identical to NTILE
    (oracle-pinned); wall time now scales with the CLUSTER, not the
    largest group.
    """
    joined = scale_safe_group_ranks(
        df, part_col, order_cols, num_partitions
    )
    bin_expr = ntile_from_rank(
        F.col("_rank"), F.col("_grp_n"), F.lit(n_bins)
    )
    return (
        joined.withColumn("_bin", bin_expr)
        .groupBy(part_col, "_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(value_col).alias("bin_min"),
            F.max(value_col).alias("bin_max"),
        )
        .select(
            part_col,
            F.col("_bin").cast("long").alias("bin"),
            "n_rows",
            "bin_min",
            "bin_max",
        )
    )


#: Fixed-length grid units gap_fill_forward accepts (month/year vary
#: in length, so a dense arithmetic grid can't align to them).
_GAP_FILL_UNIT_SECONDS = {
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    "week": 604800,
}


def _validate_gap_fill_step(step: str, bucket_unit: str) -> None:
    """``step`` is interpolated into ``F.expr`` and must stay
    consistent with ``bucket_unit``: a step that is not a positive
    whole multiple of the bucket unit (e.g. '30 minutes' with
    bucket_unit='hour') produces grid points that never match any
    observed ``date_trunc`` bucket, silently reporting every grid row
    as a gap. The strict shape check also keeps arbitrary SQL out of
    the interval expression."""
    import re

    bu = bucket_unit.lower()
    if bu not in _GAP_FILL_UNIT_SECONDS:
        raise ValueError(
            f"bucket_unit {bucket_unit!r} unsupported: fixed-length "
            f"units only ({sorted(_GAP_FILL_UNIT_SECONDS)})"
        )
    m = re.fullmatch(
        r"\s*(\d+)\s+(second|minute|hour|day|week)s?\s*", step.lower()
    )
    if not m:
        raise ValueError(
            f"step {step!r} must look like '<N> <unit>' with unit in "
            f"{sorted(_GAP_FILL_UNIT_SECONDS)}"
        )
    n, unit = int(m.group(1)), m.group(2)
    step_s = n * _GAP_FILL_UNIT_SECONDS[unit]
    if n <= 0 or step_s % _GAP_FILL_UNIT_SECONDS[bu] != 0:
        raise ValueError(
            f"step {step!r} ({step_s}s) is not a positive whole "
            f"multiple of bucket_unit {bucket_unit!r} "
            f"({_GAP_FILL_UNIT_SECONDS[bu]}s): grid points would "
            "never align with observed buckets"
        )


def gap_fill_forward(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    step: str = "1 hour",
    bucket_unit: str = "hour",
) -> DataFrame:
    """Time-series regularization — resample each key onto a dense,
    shared time grid and forward-fill gaps: the step that turns an
    irregular event stream into the aligned per-(key, bucket) series
    downstream feature pipelines and anomaly monitors consume.

    Output per (key, grid bucket): ``n_obs`` (0 in gaps),
    ``filled_sum`` (the bucket's decimal-exact value sum, with gaps
    carrying the most recent observed bucket's sum forward; null
    before a key's first observation), ``is_gap``.

    Scale shape: the only event-volume shuffle is the per-bucket
    partial+final hash aggregate; everything after runs on GRID rows
    — |keys| × (time range / step), a function of calendar span, not
    data volume. The grid is built distributed (explode of a
    ``sequence()`` per key, bounds riding as a 1-row broadcast), the
    observed buckets join back on (key, bucket), and the forward-fill
    is ``last(ignorenulls)`` over a per-key window whose partition
    size is bounded by the grid, balanced across keys by
    construction. If the grid itself is extreme (decade-long range at
    1-second step with few keys), the same chunked-prefix rewrite as
    :func:`grouped_running_sum_skew_safe` applies — forward-fill is a
    running ``last`` — but at any realistic step the window input is
    metadata-sized.

    Determinism: bucket sums accumulate in DECIMAL(18,2) and surface
    as double; forward-fill copies values without arithmetic, so the
    filled series is bit-identical in any engine.
    """
    _validate_gap_fill_step(step, bucket_unit)
    per = (
        df.groupBy(
            F.col(key_col).alias("_key"),
            F.date_trunc(bucket_unit, F.col(ts_col)).alias("bucket_ts"),
        )
        .agg(
            F.count(F.lit(1)).alias("_n_obs"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_sum"),
        )
    )
    bounds = per.agg(
        F.min("bucket_ts").alias("_lo"), F.max("bucket_ts").alias("_hi")
    )
    grid = (
        per.select("_key")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "_key",
            F.explode(
                F.sequence(
                    F.col("_lo"), F.col("_hi"), F.expr(f"interval {step}")
                )
            ).alias("bucket_ts"),
        )
    )
    joined = grid.join(per, ["_key", "bucket_ts"], "left")
    w = (
        Window.partitionBy("_key")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        F.col("_key").alias(key_col),
        "bucket_ts",
        F.coalesce("_n_obs", F.lit(0)).cast("long").alias("n_obs"),
        F.last("_sum", ignorenulls=True).over(w).cast("double")
        .alias("filled_sum"),
        F.col("_n_obs").isNull().alias("is_gap"),
    )


def winsorize_stats(
    df: DataFrame,
    part_col: str,
    value_col: str,
    tiebreak_cols: list[str],
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group winsorization summary — clamp each group's values at
    its exact empirical ``lo``/``hi`` quantiles and report (group,
    n_rows, lo_cut, hi_cut, n_below, n_above, winsor_mean): the
    robust-moment profile feature pipelines use where raw means are
    outlier-dominated (and the audit of HOW MUCH each group was
    clipped).

    Exact quantile definition (mirrors q_median_exact's rank style,
    engine-portable): the cut value is the one at 1-based rank
    ``greatest(1, ceil(q × n))`` in the (value, tiebreak…) total
    order. ``tiebreak_cols`` must make the order unique.

    Scale shape: per-group ranks come from
    :func:`scale_safe_group_ranks` (range-partition + metadata lift —
    no per-group single-task sort, whale groups span partitions), the
    two cut rows per group reduce to a 2×|groups| broadcast, and the
    final pass is one hash aggregate with DECIMAL-accumulated clamped
    sums. Two full-data exchanges total (rank layout + final agg).

    NULL ``value_col`` rows are excluded up front (matching the
    NULL-exclusion contract of psi_report/benford_audit): otherwise
    NULLs would enter the rank order — a cut rank could land on a
    NULL row — and inflate the winsor_mean denominator.
    """
    df = df.filter(F.col(value_col).isNotNull())
    ranked = scale_safe_group_ranks(
        df.select(part_col, value_col, *tiebreak_cols),
        part_col,
        [value_col, *tiebreak_cols],
    )
    lo_rank = F.greatest(
        F.lit(1), F.ceil(F.lit(lo) * F.col("_grp_n"))
    ).cast("long")
    hi_rank = F.greatest(
        F.lit(1), F.ceil(F.lit(hi) * F.col("_grp_n"))
    ).cast("long")
    cuts = (
        ranked.filter(
            (F.col("_rank") == lo_rank) | (F.col("_rank") == hi_rank)
        )
        .groupBy(part_col)
        .agg(
            F.min(
                F.when(F.col("_rank") == lo_rank, F.col(value_col))
            ).alias("lo_cut"),
            F.max(
                F.when(F.col("_rank") == hi_rank, F.col(value_col))
            ).alias("hi_cut"),
        )
    )
    with_cuts = df.select(part_col, value_col).join(
        F.broadcast(cuts), part_col
    )
    clamped = F.least(
        F.greatest(F.col(value_col), F.col("lo_cut")), F.col("hi_cut")
    )
    return with_cuts.groupBy(part_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("lo_cut").alias("lo_cut"),
        F.min("hi_cut").alias("hi_cut"),
        F.sum(
            (F.col(value_col) < F.col("lo_cut")).cast("long")
        ).alias("n_below"),
        F.sum(
            (F.col(value_col) > F.col("hi_cut")).cast("long")
        ).alias("n_above"),
        round_half_away(
            F.sum(clamped.cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("winsor_mean"),
    )
