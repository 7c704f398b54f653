"""Aggregations (reference A1-A4 + the §7/M4 extended aggregate set).

Every aggregation here compiles to partial+final HashAggregate — the
map-side combine halves shuffle volume, which is the difference between
"works" and "works at 100 TB". Skewed grouping keys are handled by AQE
(skew-join/partition splitting enabled in the session factory).

Monetary aggregates go through DECIMAL accumulation
(``sum(cast(x as decimal(18,2)))``) then cast back to double: exact,
order-independent arithmetic, so results are bit-identical across
engines and across partitionings — double-sum results would depend on
reduction order and break both the DuckDB oracle and re-run
reproducibility at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import round_half_away


def count_by_key(
    df: DataFrame,
    key: str,
    batch_col: str | None = None,
    tag_value: str | None = None,
    count_name: str = "trip_count",
) -> DataFrame:
    """A1/A2 generalized (``StreamProcessor.scala:44-71``): hash-agg
    count by a zone/key column, optionally per batch, optionally tagged
    with an ``aggregation_type`` literal (P7)."""
    keys = [key] + ([batch_col] if batch_col else [])
    out = df.groupBy(*keys).agg(F.count("*").alias(count_name))
    if tag_value is not None:
        out = out.withColumn("aggregation_type", F.lit(tag_value))
    return out


def total_count(df: DataFrame) -> DataFrame:
    """A3 as a query (count action expressed relationally)."""
    return df.agg(F.count("*").alias("n_rows"))


def decimal_sum(col: str | Column, scale: int = 2, precision: int = 18) -> Column:
    """Exact (order-independent) monetary sum, surfaced as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def decimal_avg(col: str | Column, scale: int = 2, precision: int = 18) -> Column:
    """Exact-accumulation average: decimal sum / count, as double.

    A single final division on an exact sum is deterministic; a naive
    double ``avg`` depends on partition reduction order.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double") / F.count(c)


def amount_stats(df: DataFrame, key: str, amount: str) -> DataFrame:
    """M4(a): the sum/avg/min/max the taxi schema begs for
    (SURVEY §2.4 notes the reference computes counts only)."""
    return df.groupBy(key).agg(
        F.count("*").alias("n_rows"),
        decimal_sum(amount).alias("sum_amount"),
        decimal_avg(amount).alias("avg_amount"),
        F.min(amount).alias("min_amount"),
        F.max(amount).alias("max_amount"),
    )


def rollup_counts(df: DataFrame, keys: list[str], amount: str) -> DataFrame:
    """M4(a): grouping-sets/rollup aggregate (subtotals + grand total).

    Catalyst expands the rollup into a single Expand+HashAggregate —
    one shuffle for all grouping sets, not one per level.
    """
    return df.rollup(*keys).agg(
        F.count("*").alias("n_rows"),
        decimal_sum(amount).alias("sum_amount"),
    )


def cube_counts(df: DataFrame, keys: list[str], amount: str) -> DataFrame:
    """M4(a): CUBE over the grouping keys — all 2^k grouping sets in
    one Expand+HashAggregate, a single shuffle (same plan family as
    ``rollup_counts``)."""
    return df.cube(*keys).agg(
        F.count("*").alias("n_rows"),
        decimal_sum(amount).alias("sum_amount"),
    )


def percentiles_exact(
    df: DataFrame,
    key: str,
    value_col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact interpolated percentiles (type-7 linear interpolation —
    the same formula as DuckDB ``quantile_cont``), one array-typed
    aggregate per group. Exact percentile buffers each group's values;
    fine for low-cardinality keys — at 100 TB switch to
    ``approx_percentile`` (mergeable KLL-style sketch, map-side
    partials)."""
    arr = F.percentile(F.col(value_col), F.lit(list(probs)))
    out = [
        F.round(F.element_at(F.col("_p"), i + 1), 6).alias(f"p{int(p * 100)}")
        for i, p in enumerate(probs)
    ]
    return df.groupBy(key).agg(arr.alias("_p")).select(key, *out)


def percentiles_approx(
    df: DataFrame,
    key: str,
    value_col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
    accuracy: int = 10_000,
) -> DataFrame:
    """Mergeable-sketch percentiles — the 100 TB tier next to
    :func:`percentiles_exact`.

    ``approx_percentile`` accumulates a Greenwald–Khanna quantile
    summary per partition and MERGES the summaries at the final
    aggregate, so memory per group is O(accuracy·log n) regardless of
    group size — unlike the exact tier, which buffers every value of a
    group on one executor. ``accuracy`` bounds the rank error at
    ``1/accuracy`` (10k → 0.01 % of the group's rows); the companion
    pytest pins the observed value error against the exact tier at
    sf0.1. Approximate by design → registered rows-only (DuckDB's
    ``approx_quantile`` is a different sketch, t-digest, so values
    cannot hash-match any oracle).
    """
    arr = F.percentile_approx(
        F.col(value_col), F.lit(list(probs)), F.lit(accuracy)
    )
    out = [
        F.round(F.element_at(F.col("_p"), i + 1), 6).alias(f"p{int(p * 100)}")
        for i, p in enumerate(probs)
    ]
    return df.groupBy(key).agg(arr.alias("_p")).select(key, *out)


def percentiles_approx_checked(
    df: DataFrame,
    key: str,
    value_col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
    accuracy: int = 10_000,
    slack_rows: int = 1,
) -> DataFrame:
    """:func:`percentiles_approx` with its rank guarantee made
    ORACLE-CHECKABLE (VERDICT r4 item 4, same contract pattern as
    :func:`approx_distinct_checked`): per group emit the exact row
    count plus, per quantile ``p``, a boolean stating the sketch's
    value sits within ``±(n/accuracy + slack_rows)`` ranks of the exact
    rank ``p·n``. The SQL oracle recomputes ``n_rows`` and asserts each
    boolean TRUE — a broken sketch (or silently loosened accuracy)
    turns the driver row red instead of hiding behind rows-only. The
    approx values themselves are intentionally NOT output columns
    (engine-specific; can never hash-match a t-digest oracle).

    The rank check is engine-neutral arithmetic: the set of ranks the
    returned value ``v`` occupies is ``[count(<v)+1, count(≤v)]``; the
    Greenwald–Khanna contract is that this interval intersects
    ``[p·n − εn, p·n + εn]`` with ``ε = 1/accuracy`` (``slack_rows``
    absorbs the boundary-rounding ambiguity of either endpoint).

    Scale shape: pass 1 aggregates the mergeable sketch per group;
    pass 2 re-scans the data once to rank the (broadcast, one row per
    group) sketch outputs via conditional counts — both passes are
    map-side partial aggregates with a |groups|-row shuffle. This is an
    audit query: the production tier is :func:`percentiles_approx`
    alone (one pass, no exact re-rank).
    """
    eps = 1.0 / accuracy
    arr = F.percentile_approx(
        F.col(value_col), F.lit(list(probs)), F.lit(accuracy)
    )
    est = df.groupBy(key).agg(arr.alias("_p"))
    joined = df.select(key, value_col).join(F.broadcast(est), key)

    # n counts NON-NULL values: percentile_approx ignores NULLs, and
    # the conditional rank counts below never match them — counting
    # all rows here would shift the exact-rank target and flip the
    # booleans spuriously red on any column containing NULLs
    n = F.count(F.col(value_col))
    cols = [n.alias("n_rows")]
    for i, p in enumerate(probs):
        v = F.element_at(F.col("_p"), i + 1)
        cnt_lt = F.sum(
            F.when(F.col(value_col) < v, 1).otherwise(0)
        )
        cnt_le = F.sum(
            F.when(F.col(value_col) <= v, 1).otherwise(0)
        )
        lo = F.lit(p) * n - F.lit(eps) * n - F.lit(slack_rows)
        hi = F.lit(p) * n + F.lit(eps) * n + F.lit(slack_rows)
        cols.append(
            ((cnt_le.cast("double") >= lo) & ((cnt_lt + 1).cast("double") <= hi))
            .alias(f"p{int(p * 100)}_in_bounds")
        )
    return joined.groupBy(key).agg(*cols)


def approx_distinct(df: DataFrame, key: str, rsd: float = 0.01) -> DataFrame:
    """HyperLogLog++ distinct estimate — the scale path for cardinality
    (exact distinct of a 100 TB key column is a full shuffle; HLL is a
    mergeable sketch computed map-side)."""
    return df.agg(F.approx_count_distinct(key, rsd).alias("approx_distinct"))


def approx_distinct_by_group_checked(
    df: DataFrame,
    group_col: str,
    key: str,
    rsd: float = 0.01,
    tol_factor: float = 3.0,
) -> DataFrame:
    """Per-group HLL with the same oracle-checkable contract as the
    global gate: ``(group, exact_distinct, within_rsd)`` — the
    grouped form is the one a 100 TB pipeline actually runs (distinct
    users per segment/day/source), and each group's sketch merges
    map-side independently, so the shuffle carries one sketch per
    (task, group), not the key stream."""
    est = F.approx_count_distinct(key, rsd)
    exact = F.count_distinct(F.col(key))
    return df.groupBy(group_col).agg(
        exact.alias("exact_distinct"),
        (
            F.abs(est.cast("double") - exact.cast("double"))
            <= F.lit(tol_factor * rsd) * exact.cast("double")
        ).alias("within_rsd"),
    )


def approx_distinct_checked(
    df: DataFrame, key: str, rsd: float = 0.01, tol_factor: float = 3.0
) -> DataFrame:
    """HLL estimate with its accuracy made ORACLE-CHECKABLE (VERDICT r3
    item 5): emit the exact distinct count alongside a boolean stating
    the sketch landed within ``tol_factor × rsd`` relative error. A SQL
    oracle computes the same exact count and asserts the boolean TRUE —
    so a broken sketch (or a silently changed rsd) turns the row red
    instead of hiding behind a rows-only check. Spark's HLL++ is
    hash-deterministic, so the boolean is stable across runs/
    partitionings. The estimate itself is intentionally NOT an output
    column (engine-specific value; it can never hash-match an oracle).

    Scale shape: both aggregates run in ONE pass over the data — the
    HLL sketch merges map-side; the exact count is the one full
    distinct shuffle this audit query exists to double-check.
    """
    est = F.approx_count_distinct(key, rsd)
    exact = F.count_distinct(F.col(key))
    return df.agg(
        exact.alias("exact_distinct"),
        (
            F.abs(est.cast("double") - exact.cast("double"))
            <= F.lit(tol_factor * rsd) * exact.cast("double")
        ).alias("within_rsd"),
    )


def grouped_correlation(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    scale: int = 2,
) -> DataFrame:
    """Per-group Pearson correlation + sample covariance with
    ENGINE-EXACT determinism — the statistical-profiling aggregate a
    pipeline runs to sanity-check feature relationships before
    training.

    Why not ``F.corr``: Spark's (and DuckDB's) built-in corr/covar use
    streaming float accumulation whose result depends on partition
    reduction order — two runs of the same data can hash differently.
    Here the five moments (Σx, Σy, Σx², Σy², Σxy) accumulate as
    DECIMALS (inputs carry ``scale`` dp, so products are exact at
    2·scale dp) — order-independent exact sums — and correlation /
    covariance derive through one explicitly-written double formula,
    identical in the DuckDB oracle.

    Scale shape: one partial+final hash aggregate (map-side combined);
    the moment set is five numbers per group regardless of row count.
    Groups with < 2 rows or zero variance yield NULL correlation.
    """
    xd = F.col(x_col).cast(f"decimal(18,{scale})")
    yd = F.col(y_col).cast(f"decimal(18,{scale})")
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(xd).alias("_sx"),
        F.sum(yd).alias("_sy"),
        F.sum(xd * xd).alias("_sxx"),
        F.sum(yd * yd).alias("_syy"),
        F.sum(xd * yd).alias("_sxy"),
    )
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    corr = F.when(
        (F.col("_n") >= 2) & (var_x > 0) & (var_y > 0),
        F.round(
            (n * sxy - sx * sy) / (F.sqrt(var_x) * F.sqrt(var_y)), 6
        ),
    )
    cov = F.when(
        F.col("_n") >= 2,
        round_half_away((sxy - sx * sy / n) / (n - 1), 6),
    )
    return agg.select(
        F.col(group_col),
        F.col("_n").cast("long").alias("n_rows"),
        cov.alias("sample_cov"),
        corr.alias("pearson_r"),
    )


def time_decayed_agg(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    half_life_days: float,
    ref_ts: str,
) -> DataFrame:
    """Recency-weighted per-key aggregate (new r7): each event weighs
    ``2^(−age_days / half_life)`` relative to a caller-provided
    reference instant — the exponentially-decayed engagement/activity
    score a pipeline maintains instead of unbounded lifetime counts
    (yesterday's click matters more than last year's).

    ``ref_ts`` is a LITERAL ('YYYY-MM-DD HH:MM:SS'), never
    current_timestamp(): the score is reproducible and
    oracle-checkable, and a backfill re-run scores identically.

    Engine parity: integer epoch seconds → one double formula for the
    weight (pow is transcendental — plain 9 dp round, the
    unigram-logprob precedent), then DECIMAL(28,9) accumulation so
    per-key sums never depend on float reduction order.

    Scale shape: one narrow weight expression + one partial+final hash
    aggregate on the key — the count_by_key shape with weights.

    Returns (key, n_events, decayed_count, decayed_value).
    """
    age_days = (
        F.unix_timestamp(F.lit(ref_ts).cast("timestamp"))
        - F.unix_timestamp(F.col(ts_col))
    ).cast("double") / F.lit(86400.0)
    w = F.round(
        F.pow(F.lit(2.0), -age_days / F.lit(float(half_life_days))), 9
    ).cast("decimal(28,9)")
    # the weight·value product is RATIONAL (9 dp weight × the mostly
    # decimal-valued amounts), so its 9 dp rounding hits .5 boundaries
    # the engines' round() built-ins disagree on — observed live at
    # sf0.001 — hence round_half_away; the pow() round above stays
    # plain (transcendental, boundary probability ~0)
    wv = round_half_away(
        F.round(
            F.pow(F.lit(2.0), -age_days / F.lit(float(half_life_days))), 9
        )
        * F.col(value_col).cast("double"),
        9,
    ).cast("decimal(28,9)")
    return (
        df.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(w).cast("double").alias("decayed_count"),
            F.sum(wv).cast("double").alias("decayed_value"),
        )
    )


def cohort_retention(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    bucket: str = "week",
) -> DataFrame:
    """Cohort retention matrix — users grouped by first-seen period,
    counted in each subsequent period they return (the
    activation/retention table every product-analytics pipeline
    maintains; pairs with :func:`~..windows.funnel_stages`).

    Returns (cohort_<bucket>, period_offset, n_active) where
    ``period_offset`` = whole buckets between the user's first-seen
    bucket and the active bucket (0 = the cohort's own period). All
    arithmetic is integer date math — engine-exact by construction.

    Scale shape: first-seen is one user-key aggregate; activity
    de-duplicates to (user, bucket) pairs in the same shuffle family;
    the join back is user-keyed (AQE broadcasts the first-seen side
    for small cohorts, sort-merge otherwise — both correct); the final
    (cohort, offset) aggregate carries distinct-user counts via
    count_distinct's Expand. No window over event volume anywhere.
    """
    days = {"week": 7, "day": 1}[bucket]
    b = F.date_trunc(bucket, F.col(ts_col))
    firsts = df.groupBy(user_col).agg(
        F.min(b).alias("_cohort")
    )
    active = df.select(
        F.col(user_col), b.alias("_active")
    ).distinct()
    return (
        active.join(firsts, user_col)
        .select(
            F.col("_cohort").alias(f"cohort_{bucket}"),
            F.floor(
                F.datediff(F.col("_active"), F.col("_cohort")) / days
            )
            .cast("long")
            .alias("period_offset"),
            F.col(user_col),
        )
        .groupBy(f"cohort_{bucket}", "period_offset")
        .agg(F.countDistinct(user_col).cast("long").alias("n_active"))
    )


def association_rules(
    tx: DataFrame,
    tx_col: str,
    item_col: str,
    min_support_count: int = 5,
    min_confidence: float = 0.1,
) -> DataFrame:
    """Market-basket association rules over (transaction, item) rows:
    for every directed pair of co-occurring frequent items, emit
    (antecedent, consequent, pair_support, confidence, lift) — the
    co-occurrence mining a pipeline runs on tags, domains, or items
    to surface "rows with X also carry Y" structure.

    Scale design (Apriori's monotonicity, DataFrame-shaped): item
    supports are one hash aggregate; items below ``min_support_count``
    are semi-joined OUT before any pairing (a pair can't be frequent
    if either member isn't — the prune that keeps the pair space
    honest); pair generation is a per-transaction self-join, bounded
    by Σ C(basket_size, 2) — basket size is the data-model bound
    (lines per order ≤ 13 here), never the catalog; pair supports cut
    again at ``min_support_count`` BEFORE the rule join. Supports
    join back broadcast (the frequent-item table is small by
    construction).

    Determinism: confidence and lift are integer ratios —
    boundary-reachable, so both round half-away (engine-exact);
    output is total-ordered by the (antecedent, consequent) key.
    """
    baskets = tx.select(
        F.col(tx_col).alias("_tx"), F.col(item_col).alias("_item")
    ).distinct()
    n_tx = baskets.agg(
        F.countDistinct("_tx").alias("_n_tx")
    )
    supp = baskets.groupBy("_item").agg(
        F.count(F.lit(1)).alias("_supp")
    )
    frequent = supp.filter(F.col("_supp") >= min_support_count)
    fitems = baskets.join(
        F.broadcast(frequent.select("_item")), "_item", "left_semi"
    )
    a = fitems.select("_tx", F.col("_item").alias("_ia"))
    b = fitems.select("_tx", F.col("_item").alias("_ib"))
    pairs = (
        a.join(b, "_tx")
        .filter(F.col("_ia") < F.col("_ib"))
        .groupBy("_ia", "_ib")
        .agg(F.count(F.lit(1)).alias("pair_support"))
        .filter(F.col("pair_support") >= min_support_count)
    )
    directed = pairs.select(
        F.col("_ia").alias("antecedent"),
        F.col("_ib").alias("consequent"),
        "pair_support",
    ).unionByName(
        pairs.select(
            F.col("_ib").alias("antecedent"),
            F.col("_ia").alias("consequent"),
            "pair_support",
        )
    )
    sa = frequent.withColumnsRenamed(
        {"_item": "antecedent", "_supp": "_supp_a"}
    )
    sc = frequent.withColumnsRenamed(
        {"_item": "consequent", "_supp": "_supp_c"}
    )
    scored = (
        directed.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sc), "consequent")
        .crossJoin(F.broadcast(n_tx))
        .select(
            "antecedent",
            "consequent",
            "pair_support",
            round_half_away(
                F.col("pair_support").cast("double") / F.col("_supp_a"), 6
            ).alias("confidence"),
            round_half_away(
                (F.col("pair_support") * F.col("_n_tx")).cast("double")
                / (F.col("_supp_a") * F.col("_supp_c")),
                6,
            ).alias("lift"),
        )
    )
    return scored.filter(F.col("confidence") >= min_confidence)
