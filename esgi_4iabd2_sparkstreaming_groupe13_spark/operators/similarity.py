"""Similarity search over embedding columns (M4(e); cf. PAPERS.md —
top-k similarity EDBT'20, REPOSE ICDE'21).

Tiers:

* ``brute_force_topk`` — exact cosine top-k: broadcast the (small)
  query set against the full corpus; per-partition ranking via a
  partitioned window (WindowGroupLimit — per-group heap, no global
  sort). The corpus side streams; nothing quadratic materializes.
* ``ivf_topk`` — the top-k scale path: IVF-style coarse quantization.
  A deterministic centroid subset partitions the corpus into cells
  (one broadcast argmin pass); queries probe only the ``nprobe``
  nearest cells. Search cost drops from O(N) to O(N·nprobe/cells)
  per query at the price of recall — the standard ANN trade.
* ``cosine_threshold_pairs`` — EXACT all-pairs ≥ threshold, block-
  tiled: O(N²) compares are unavoidable for exact answers at
  thresholds inside the background-similarity tail (see the LSH note
  below), so the operator's job is to distribute them evenly — an
  equi-join on (block_i, block_j) tile keys, never a single-side
  broadcast nested loop and never a driver-capped corpus.
* ``rh_lsh_pairs`` — the sub-quadratic near-dup path: random-
  hyperplane (sign-bit) signatures, banded exactly like MinHash-LSH
  (operators/dedup.py), candidates verified with exact cosine so
  precision is 1.0. Effective where LSH theory says it can be: at
  NEAR-DUP thresholds (t ≳ 0.7, collision prob p₁ = 1 − θ/π well
  above the background's p ≈ ½). For a threshold like 0.35 on
  near-isotropic embeddings, p₁ ≈ 0.61 vs p₂ ≈ 0.5 — the banding
  S-curve cannot separate them at any practical signature width
  (ρ = ln p₁ / ln p₂ ≈ 0.7 → candidates ~N^1.7 with huge constants),
  which is WHY the exact tier above stays the oracle answer for
  tail-threshold queries and this tier is the scale path for
  high-threshold dedup.

All verification arithmetic is double-precision, element-order
sequential, so results are bit-reproducible (and oracle-comparable
for the exact tiers). No UDFs: ``zip_with``/``aggregate``/
``transform`` higher-order functions keep the math JVM-side; the
hyperplane matrix rides in as a broadcast one-row frame, not a
16k-literal expression tree.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import round_half_away


def dot_expr(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, sequential element order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: each query vector vs the whole corpus.

    The query side is a handful of rows → broadcast; the corpus never
    shuffles until the final per-query top-k window (k rows per query
    survive the partial rank thanks to WindowGroupLimit pushdown).
    Self-matches excluded; ties broken by neighbor id for determinism.
    """
    queries = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    scored = (
        embeddings.alias("c")
        .crossJoin(F.broadcast(queries))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine_expr(F.col("qvec"), F.col(vec_col)), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_threshold_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 256,
) -> DataFrame:
    """EXACT all pairs with cosine ≥ threshold, block-tiled.

    Tiling: each vector gets a block index ``⌊id/block_size⌋``; the
    upper-triangle tile set {(bi, bj) : bi ≤ bj} partitions the pair
    space. Side A replicates each vector to every tile ROW it owns
    (bj ≥ its block), side B to every tile COLUMN (bi ≤ its block);
    the tile key (bi, bj) is then a plain EQUI-join — shuffle hashes
    over ~nb²/2 keys, so the quadratic compare work spreads evenly
    across the cluster. Contrast the naive ``a.join(b, id_a < id_b)``:
    Spark compiles that to a broadcast nested loop that ships one
    whole side to every executor — a driver/executor OOM at corpus
    scale. Replication cost: each side is shuffled ~nb/2 times
    (``block_size`` trades replication volume against tile
    parallelism; compare work is identical either way).

    Exactness is the point of this tier: at thresholds inside the
    background-similarity tail no sub-quadratic method can return the
    exact answer (module docstring); for high near-dup thresholds use
    ``rh_lsh_pairs``. Per-pair math stays JVM-side and element-order
    sequential (oracle parity).
    """
    from .windows import global_row_index

    # DENSE block index from a global rank of the ids, NOT floor(id /
    # block_size): with sparse id spaces (shards offset by millions)
    # raw-id blocking inflates the tile count to O(max_id/block_size)
    # — each row then explodes to tens of thousands of tile copies,
    # and a statically-small-looking exploded side can even bait AQE
    # into broadcasting it (observed: driver maxResultSize abort on
    # the 10x probe, whose copies are offset by 1e6). The two-pass
    # rank keeps nb = ceil(n_vectors / block_size) regardless of id
    # distribution.
    src = global_row_index(
        embeddings.select(F.col(id_col), F.col(vec_col)), [id_col], "_ridx"
    )
    blk = F.floor((F.col("_ridx") - 1) / block_size)
    # total block count as a broadcast scalar — no driver action
    nb = src.agg(
        (F.floor((F.max("_ridx") - 1) / block_size) + 1).alias("_nb")
    )
    a = (
        src.crossJoin(F.broadcast(nb))
        .select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("va"),
            blk.alias("_bi"),
            F.explode(F.sequence(blk, F.col("_nb") - 1)).alias("_bj"),
        )
    )
    b = (
        src.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vb"),
            blk.alias("_bj2"),
            F.explode(F.sequence(F.lit(0), blk)).alias("_bi2"),
        )
    )
    # shuffle_hash hint: both sides are explode-replicated, so neither
    # must ever be broadcast whatever the pre-explosion size estimate
    # says; a shuffled hash join on the tile key is the intended plan.
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("_bi") == F.col("_bi2"))
            & (F.col("_bj") == F.col("_bj2"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn("cosine", F.round(cosine_expr(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _hyperplanes(n_bits: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic Gaussian hyperplane matrix (driver-side, seeded —
    reproducible across runs and executors)."""
    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]


def rh_lsh_pairs(
    embeddings: DataFrame,
    threshold: float,
    dim: int = 64,
    n_bits: int = 256,
    bands: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs by random-hyperplane LSH + exact-cosine verify —
    the sub-quadratic path for HIGH thresholds (t ≳ 0.7), mirroring
    ``dedup.minhash_lsh_pairs``'s band/bucket/verify structure.

    Signature: ``n_bits`` sign bits, bit_i = [⟨v, h_i⟩ ≥ 0] for seeded
    Gaussian hyperplanes h_i (Charikar's SimHash for vectors —
    P[bit agrees] = 1 − θ/π). Banded into ``bands`` groups of r =
    n_bits/bands bits; vectors sharing any band bucket become
    candidates (the only shuffle-heavy step, O(N·bands) bucket rows),
    then exact cosine ≥ threshold verification — precision 1.0,
    recall = 1 − (1 − p₁^r)^bands. Defaults (16 bands × 16 bits):
    at cosine 0.95 (p₁ = .899) recall ≈ 1 − 6e−9; at the isotropic
    background (p ≈ .5–.6) a pair collides with prob < 0.5%, so
    candidates stay far below all-pairs.

    The hyperplane matrix enters the plan as ONE broadcast row
    (array<array<double>>), and every per-vector bit is computed by a
    single ``transform`` over it — compact plan, JVM-side math, no
    UDF.
    """
    assert n_bits % bands == 0
    r = n_bits // bands
    spark = embeddings.sparkSession
    planes = _hyperplanes(n_bits, dim, seed)
    planes_df = F.broadcast(
        spark.createDataFrame([(planes,)], "planes: array<array<double>>")
    )

    v = F.col(vec_col)
    # bits[i] = sign test of ⟨v, planes[i]⟩ — one fused higher-order
    # expression over the broadcast matrix
    bits = F.transform(
        F.col("planes"),
        lambda p: (
            F.aggregate(
                F.zip_with(p, v, lambda hx, vx: hx * vx.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0
        ).cast("int"),
    )
    sigs = (
        embeddings.crossJoin(planes_df)
        .select(F.col(id_col), v.alias("_vec"), bits.alias("_bits"))
    )

    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.md5(
                    F.concat_ws(
                        "_", *[F.col("_bits")[i * r + j] for j in range(r)]
                    )
                ).alias("bkey"),
            )
            for i in range(bands)
        ]
    )
    # buckets carry only the id — the ×bands explode must not multiply
    # the vector payload through the shuffle; vectors rejoin from the
    # persisted signature frame only for surviving candidates
    from .caching import track_persist

    sigs = track_persist(sigs)
    buckets = sigs.withColumn("b", F.explode(band_structs)).select(
        F.col(id_col),
        F.col("b.band").alias("band"),
        F.col("b.bkey").alias("bkey"),
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    vec_a = sigs.select(F.col(id_col).alias("id_a"), F.col("_vec").alias("va"))
    vec_b = sigs.select(F.col(id_col).alias("id_b"), F.col("_vec").alias("vb"))
    return (
        candidates.join(vec_a, "id_a")
        .join(vec_b, "id_b")
        .withColumn("cosine", F.round(cosine_expr(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def ivf_assign(
    embeddings: DataFrame,
    centroid_stride: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse assignment. Centroids are either the deterministic
    every-``stride``-th-vector subset (reproducible without a fit) or
    a trained ``(cell_id, cvec)`` frame from :func:`kmeans_fit`.
    Returns (centroids, assigned)."""
    if centroids is None:
        centroids = embeddings.filter(
            F.col(id_col) % centroid_stride == 0
        ).select(F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cvec"))

    scored = (
        embeddings.crossJoin(F.broadcast(centroids))
        .select(
            F.col(id_col),
            F.col(vec_col),
            "cell_id",
            cosine_expr(F.col(vec_col), F.col("cvec")).alias("csim"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("csim"), F.asc("cell_id"))
    assigned = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(id_col, vec_col, "cell_id")
    )
    return centroids, assigned


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    centroid_stride: int = 50,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k: probe the ``nprobe`` best cells per query, exact
    cosine rank within the probed subset. Approximate (rows-only
    correctness check); the exact tier is the oracle baseline. Pass a
    :func:`kmeans_fit` result as ``centroids`` for the trained-
    quantizer path."""
    centroids, assigned = ivf_assign(
        embeddings, centroid_stride, id_col, vec_col, centroids=centroids
    )
    queries = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    qcells = (
        queries.crossJoin(F.broadcast(centroids))
        .select(
            "query_id", "qvec", "cell_id",
            cosine_expr(F.col("qvec"), F.col("cvec")).alias("csim"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("cell_id"))
    probes = (
        qcells.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select("query_id", "qvec", "cell_id")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine_expr(F.col("qvec"), F.col(vec_col)), 6).alias("cosine"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ann_recall(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    search_embeddings: DataFrame | None = None,
    **ivf_kwargs,
) -> DataFrame:
    """Recall@k of the IVF approximate tier against the exact
    brute-force tier — the quality gate that makes the ANN path's
    accuracy VISIBLE in the registry instead of a rows-only shrug.

    Both tiers are fully deterministic (seeded centroids, tie-broken
    ranks), so recall is a stable, driver-checkable number. Per query:
    |IVF top-k ∩ exact top-k| / k via a left-semi join on
    (query_id, neighbor_id). A left join from the EXACT side counts
    misses, so recall can only be under-stated, never inflated by IVF
    returning extra rows. Cheap at any scale: both inputs are k rows
    per query.

    ``search_embeddings`` lets the approximate tier search a DIFFERENT
    corpus representation (e.g. the int8-dequantized tier) while the
    exact baseline stays full-precision — the gate then bounds the
    combined compression + probing loss.
    """
    exact, per_q = _recall_hit_counts(
        embeddings, query_ids, k, id_col, vec_col, search_embeddings,
        **ivf_kwargs,
    )
    # queries whose exact top-k was entirely missed still need a row
    base = exact.select("query_id").distinct()
    return (
        base.join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(k)), 6
            ).alias("recall_at_k"),
        )
    )


def _recall_hit_counts(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str,
    vec_col: str,
    search_embeddings: DataFrame | None,
    **ivf_kwargs,
):
    """Shared core of :func:`ann_recall` / :func:`ann_recall_checked`:
    exact brute-force top-k, IVF top-k over the (optionally different)
    search corpus, and per-query hit counts from a left-semi join FROM
    the exact side — the direction that guarantees recall can only be
    under-stated, never inflated by IVF returning extra rows. One copy
    keeps the pytest recall gate and the registry contract aligned.
    Returns (exact_topk_df, per_query_hit_counts_df)."""
    exact = brute_force_topk(embeddings, query_ids, k, id_col, vec_col)
    approx = ivf_topk(
        search_embeddings if search_embeddings is not None else embeddings,
        query_ids,
        k,
        id_col=id_col,
        vec_col=vec_col,
        **ivf_kwargs,
    )
    hits = exact.join(
        approx.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    per_q = hits.groupBy("query_id").agg(F.count("*").alias("n_hits"))
    return exact, per_q


def _recall_contract(
    exact: DataFrame, approx: DataFrame, k: int, min_recall: float
) -> DataFrame:
    """THE oracle-checkable recall contract, shared by the IVF,
    persisted-index, and PQ gates: per query the exact top-k ids
    (comma-joined in rank order — SQL-reproducible, hash-matched) plus
    a recall-floor boolean the oracle asserts TRUE. Hits count via a
    left-semi join FROM the exact side, so recall is only ever
    under-stated. One copy — a tie-break or floor tweak reaches every
    gate or none."""
    hits = exact.join(
        approx.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    per_q = hits.groupBy("query_id").agg(F.count("*").alias("n_hits"))
    topk_str = F.concat_ws(
        ",",
        F.transform(
            F.sort_array(F.collect_list(F.struct("rank", "neighbor_id"))),
            lambda s: s["neighbor_id"].cast("string"),
        ),
    )
    base = exact.groupBy("query_id").agg(topk_str.alias("exact_topk"))
    return base.join(per_q, "query_id", "left").select(
        "query_id",
        "exact_topk",
        (
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
            >= F.lit(min_recall * k)
        ).alias("recall_floor_ok"),
    )


def ann_recall_checked(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    min_recall: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    search_embeddings: DataFrame | None = None,
    **ivf_kwargs,
) -> DataFrame:
    """:func:`ann_recall` restated as an ORACLE-CHECKABLE contract
    (VERDICT r4 item 5, same pattern as the HLL/CMS/quantile gates):
    per query emit

    * ``exact_topk`` — the EXACT brute-force top-k neighbor ids,
      comma-joined in rank order. Fully SQL-expressible, so the DuckDB
      oracle recomputes it independently and the driver HASH-matches
      it — the exact tier (and the determinism of its cosine/rounding/
      tie-break rules) is now verified end to end, not just trusted.
    * ``recall_floor_ok`` — boolean: IVF recall@k ≥ ``min_recall``.
      The oracle asserts TRUE; replicating IVF probing in SQL would
      re-implement the operator, so the approximate tier's exact
      recall VALUE stays a pytest concern (mean ≥ 0.8 gate in
      tests/test_similarity.py) while the registry row catches
      catastrophic breakage (a wrong join or empty probe → 0 hits →
      red row). The floor is deliberately conservative: per-query
      recall is deterministic per corpus but moves with driver data
      regeneration (observed min 0.4 across sf tiers; floor 0.2).

    Cost: identical to :func:`ann_recall` plus a k-row-per-query
    collect_list — both tiers' outputs are k rows per query.
    """
    exact = brute_force_topk(embeddings, query_ids, k, id_col, vec_col)
    approx = ivf_topk(
        search_embeddings if search_embeddings is not None else embeddings,
        query_ids,
        k,
        id_col=id_col,
        vec_col=vec_col,
        **ivf_kwargs,
    )
    return _recall_contract(exact, approx, k, min_recall)


def embedding_dedup_clusters(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **lsh_kwargs,
) -> DataFrame:
    """Embedding-space near-dup CLUSTERS: RH-LSH pairs → connected
    components → min-id representative per cluster — the vector-side
    counterpart of ``dedup.dedup_clusters`` (keep = id == cluster_rep).

    Returns (id, cluster_rep) for EVERY vector; vectors with no
    near-duplicate are their own representative. Sub-quadratic end to
    end: candidates are O(vectors × bands), components run over the
    (sparse) near-dup edge set only.
    """
    from .graph import connected_components

    pairs = rh_lsh_pairs(
        embeddings, threshold, id_col=id_col, vec_col=vec_col, **lsh_kwargs
    )
    nodes = embeddings.select(F.col(id_col).alias("node"))
    comp = connected_components(
        nodes, pairs.select("id_a", "id_b"), "node", "id_a", "id_b"
    )
    return comp.select(
        F.col("node").alias(id_col), F.col("component").alias("cluster_rep")
    )


def _quantized_frame(
    embeddings: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """THE int8 scalar quantizer — the single definition of min/max/
    scale/codes that both the oracle-checked contract query and the
    compressed serving tier consume (if they computed codes
    independently, the gate would validate a copy, not the path that
    serves). Returns ``(id, _v, _mn, _mx, _scale, _codes)`` with
    ``_codes`` all-zero for degenerate constant vectors."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    src = embeddings.select(F.col(id_col), v.alias("_v"))
    m = src.select(
        id_col,
        "_v",
        F.array_min("_v").alias("_mn"),
        F.array_max("_v").alias("_mx"),
    ).withColumn("_scale", (F.col("_mx") - F.col("_mn")) / F.lit(255.0))

    def code(x):
        return round_half_away((x - F.col("_mn")) / F.col("_scale"), 0).cast("int")

    codes = F.when(
        F.col("_scale") == 0.0, F.transform("_v", lambda x: F.lit(0))
    ).otherwise(F.transform("_v", code))
    return m.withColumn("_codes", codes)


def quantize_embeddings_check(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector int8 scalar quantization with its round-trip error
    contract as output — the 4× memory-compression step ANN serving
    applies before a 100 TB corpus fits in RAM (codes + two floats per
    vector replace full float arrays).

    Per vector: ``scale = (max−min)/255``, ``code_i = round((x_i −
    min)/scale) ∈ [0, 255]``, dequantized value ``min + code·scale``.
    Output ``(vec_id, vmin, vmax, code_sum, within_bound)`` where
    ``within_bound`` asserts the max reconstruction error ≤ scale/2 —
    the exact guarantee of round-to-nearest. Everything is closed-form
    double arithmetic (no RNG, no engine-specific sketch), so a SQL
    oracle replicates the whole computation bit-for-bit: unlike the
    HLL/CMS/MinHash gates this one hash-checks the quantizer ITSELF,
    not just its envelope. ``code_sum`` pins the code assignment; the
    boolean pins the round-trip. Narrow per-row expressions — zero
    shuffle at any corpus size.
    """
    degenerate = F.col("_scale") == 0.0
    with_codes = _quantized_frame(embeddings, id_col, vec_col)
    err = F.zip_with(
        "_v",
        "_codes",
        lambda x, c: F.abs(x - (F.col("_mn") + c * F.col("_scale"))),
    )
    within = F.when(degenerate, F.lit(True)).otherwise(
        F.array_max(err) <= F.col("_scale") / F.lit(2.0) * F.lit(1.000000001)
    )
    return with_codes.select(
        id_col,
        F.round("_mn", 6).alias("vmin"),
        F.round("_mx", 6).alias("vmax"),
        F.aggregate(
            "_codes", F.lit(0).cast("long"), lambda acc, c: acc + c
        ).alias("code_sum"),
        within.alias("within_bound"),
    )


def dequantized_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Round-trip the embedding column through int8 scalar quantization
    (quantize → dequantize) — the corpus a memory-bound ANN tier
    actually searches: at 100 TB the serving layer holds codes + two
    floats per vector (4× smaller than float32 arrays), reconstructing
    values on the fly. Returns the same (id, vec) shape with the
    reconstructed vectors, so any search operator composes with it
    unchanged. Narrow per-row expressions, zero shuffle. Codes come
    from the same ``_quantized_frame`` the oracle-checked
    q_embed_quantize gate validates — one quantizer, two consumers.
    """
    with_codes = _quantized_frame(embeddings, id_col, vec_col)
    dq = F.when(F.col("_scale") == 0.0, F.col("_v")).otherwise(
        F.zip_with(
            "_v",
            "_codes",
            lambda _x, c: F.col("_mn") + c * F.col("_scale"),
        )
    )
    return with_codes.select(F.col(id_col), dq.alias(vec_col))


def kmeans_fit_or_load(
    spark,
    embeddings: DataFrame,
    k: int,
    model_path: str,
    max_iterations: int = 8,
    tol: float = 1e-4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train/serve separation for the IVF quantizer (VERDICT r3 item
    4): a quantizer is a MODEL with its own lifecycle — fit once per
    corpus version, persist the k centroid rows as a parquet table,
    and let every serve-path query (IVF probe, ANN recall gate) READ
    the table instead of re-running the k−1 seeding passes + Lloyd
    iterations per invocation. At 100 TB a registry query that
    retrains its quantizer on every run is the wrong shape regardless
    of how well the fit itself scales.

    The caller keys ``model_path`` by corpus version (this repo: sf
    dir name + source file stats, see plans/queries.py), so a
    regenerated corpus auto-invalidates the cached model. Local-FS
    existence check; on a real cluster the same pattern runs against a
    metastore table with the fit in a scheduled training job.
    ``kmeans_fit`` is deterministic (seeded farthest-point, decimal
    means), so load-vs-refit yields bit-identical centroids and
    results never depend on which path ran.
    """
    import os

    if os.path.exists(os.path.join(model_path, "_SUCCESS")):
        cents = spark.read.parquet(model_path)
        # a malformed model (missing column, wrong type — older format
        # or a foreign writer at a user-set model dir) falls through to
        # refit-and-overwrite instead of crashing every serve query.
        # Also verify the centroid COUNT equals the requested k
        # (ADVICE r4): a valid-schema table trained with a different k
        # must refit, not be served silently. take(k+1) bounds the
        # check at k+1 rows whatever the table holds.
        fields = {f.name: f.dataType.simpleString() for f in cents.schema}
        if (
            fields.get("cell_id") is not None
            and fields.get("cvec") == "array<double>"
            and len(cents.take(k + 1)) == k
        ):
            return cents
    cents, _, _ = kmeans_fit(
        embeddings, k, max_iterations, tol, id_col, vec_col
    )
    cents.write.mode("overwrite").parquet(model_path)
    return spark.read.parquet(model_path)


def kmeans_fit(
    embeddings: DataFrame,
    k: int,
    max_iterations: int = 10,
    tol: float = 1e-4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> tuple[DataFrame, int, float]:
    """Spherical k-means (Lloyd's) over a vector column — trains the
    IVF coarse quantizer that :func:`ivf_topk`'s docstring promises
    (cf. the inverted-file ANN literature; reference parity n/a — the
    reference has no vector ops at all).

    Distributed shape per iteration: broadcast the k centroids →
    argmin-by-cosine assignment (one narrow pass over the corpus) →
    per-(cell, dimension) mean via posexplode + hash agg (the only
    shuffle, keyed on k×dim rows) → rebuild + L2-normalize centroid
    arrays. The corpus is never collected; centroids are k rows,
    localCheckpoint-ed per iteration so lineage stays flat. One
    driver-side scalar probe per iteration reads the max centroid
    drift (same convergence pattern as graph.connected_components).

    Determinism: seeding is FARTHEST-POINT (the deterministic cousin
    of k-means++) — seed 0 is the vector with the smallest salted
    id-hash, each next seed the vector least similar to its closest
    already-chosen seed (ties on id). Pure hash-ordered seeds hit the
    classic two-seeds-in-one-cluster local optimum (a centroid stuck
    at cos 1/√2 between two true clusters — observed on planted
    data); farthest-point spreads seeds across clusters by
    construction, at k−1 extra broadcast-argmin passes over the
    corpus (sample-first if k is ever huge). Per-dimension means
    accumulate in DECIMAL so reduction order can't wiggle the last
    ulp; argmin ties break on cell_id. Empty cells keep their
    previous centroid.

    ``metric``: ``"cosine"`` (the default — spherical k-means: inputs
    and centroids L2-normalized, the IVF coarse-quantizer form) or
    ``"l2"`` (plain Lloyd's over raw vectors: no normalization,
    squared-euclidean assignment, raw means as centroids — the form
    product-quantization codebooks need, where SUBVECTOR norms carry
    real distance information that normalizing would destroy; shift
    is then the max squared centroid movement, so pass a tol in the
    data's scale).

    Returns ``(centroids, n_iterations, final_shift)`` with centroids
    ``(cell_id int, cvec array<double>)`` (L2-normalized iff cosine).
    """
    from ..functions.hashing import md5_int

    if metric not in ("cosine", "l2"):
        raise ValueError(f"metric must be 'cosine' or 'l2'; got {metric!r}")
    l2 = metric == "l2"

    def sim(a: Column, b: Column) -> Column:
        # a HIGHER value always means CLOSER, so seeding/assignment/
        # tie-break logic below is metric-agnostic. The l2 branch uses
        # THE _sq_dist (the expression pq_encode/pq_adc_topk score
        # with) so train and serve metrics can never drift apart.
        if l2:
            return -_sq_dist(a, b)
        return cosine_expr(a, b)

    norm = norm_expr(F.col("_v"))
    src = embeddings.select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    if not l2:
        src = src.select(
            "_vid",
            F.when(norm > 0, F.transform("_v", lambda x: x / norm))
            .otherwise(F.col("_v"))
            .alias("_v"),
        )
    # r17 (guide §2.5 input skew, §5 caching): every seeding round and
    # every Lloyd iteration scans `src` once — and a single-file input
    # arrives as ONE partition, so the whole per-round assignment
    # pipeline (k higher-order cosine folds per row + posexplode +
    # partial aggregate) ran in ONE task (measured: a 1.8-2.0 s
    # single-task stage per round, ~80% of fit wall at sf0.1). Fan the
    # rows out to the cluster parallelism (a no-op on a well-split
    # production table) and persist the normalized frame so the ~15
    # rounds of a fit re-read cached rows instead of re-scanning and
    # re-normalizing. The persist is function-scoped: released in the
    # finally below, never escapes into the caller's session.
    para = embeddings.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < para:
        src = src.repartition(para)
    src = src.persist()
    try:
        # r16 optimization round (guide §2.4, §5): centroids are k×dim
        # doubles — metadata-sized, the same class as this function's
        # per-iteration scalar probes — so each round they live as a
        # DRIVER-side list and ride back into the plan as a ONE-ROW
        # broadcast matrix column (array<array<double>> + cell-id array).
        # The previous shape crossJoined a k-row broadcast centroid FRAME
        # and picked the argmax with a Window.partitionBy(_vid) row_number
        # — a full shuffle+sort of n×k scored rows per Lloyd iteration and
        # per seeding round, plus an eager localCheckpoint job each. Now
        # assignment is a NARROW map: argmax over zip_with(matrix, ids)
        # structs of (sim, -cell_id) — struct ordering = max sim, then min
        # cell on ties, exactly the old DESC _csim, ASC cell_id row_number
        # pick including NaN-largest double ordering — so the corpus never
        # shuffles at all (only the (cell, dim) mean partials move), and
        # each seeding round is one TakeOrdered job. The matrix is DATA,
        # not literals, deliberately: baking k×dim literal constants into
        # the projection changes the generated source every iteration and
        # forces a multi-second Janino recompile per round (measured 5.5 s
        # first-execute vs 0.17 s warm at sf0.1); the data-driven
        # expression compiles once and hits the codegen cache for every
        # subsequent round. Bit parity: the per-element arithmetic is the
        # same expressions over the same doubles (driver round-trips are
        # IEEE-exact), and the convergence shift mirrors
        # dot_expr/norm_expr's sequential fold order in Python, so
        # iteration counts and centroids are unchanged (cross-tree check
        # at the rewrite: bit-identical centroid dumps, iteration counts
        # and shifts at sf0.01 AND sf0.1 for cosine and l2/PQ; tie
        # semantics pinned by test_kmeans_assignment_tie_prefers_min_cell).
        import math

        from pyspark.sql.types import (
            ArrayType,
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        spark = embeddings.sparkSession
        _mat_schema = StructType(
            [
                StructField(
                    "_cmat", ArrayType(ArrayType(DoubleType())), False
                ),
                StructField("_negc", ArrayType(IntegerType()), False),
            ]
        )

        def _with_matrix(frame, cents_py):
            """crossJoin the one-row (matrix, neg-ids) frame — broadcast of
            a single local row: no shuffle, no per-round codegen churn."""
            row = [
                (
                    [list(v) for _, v in cents_py],
                    [-cid for cid, _ in cents_py],
                )
            ]
            return frame.crossJoin(
                F.broadcast(spark.createDataFrame(row, _mat_schema))
            )

        def _py_dot(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc = acc + float(x) * float(y)
            return acc

        def _py_shift(newv, oldv):
            # mirrors shift_expr: -sim(new, old) for l2 (= squared dist),
            # 1 − cosine for spherical — same sequential fold as dot_expr
            if l2:
                acc = 0.0
                for x, y in zip(newv, oldv):
                    d = float(x) - float(y)
                    acc = acc + d * d
                return acc
            denom = math.sqrt(_py_dot(newv, newv)) * math.sqrt(
                _py_dot(oldv, oldv)
            )
            return 1.0 - (_py_dot(newv, oldv) / denom)

        seed_rows = (
            src.withColumn(
                "_h",
                md5_int(F.concat(F.lit("kmeans:"), F.col("_vid").cast("string"))),
            )
            .orderBy("_h", "_vid")
            .limit(1)
            .select("_v")
            .collect()
        )
        cents_schema = StructType(
            [
                StructField("cell_id", IntegerType(), False),
                StructField("cvec", ArrayType(DoubleType()), True),
            ]
        )
        if not seed_rows:  # empty input: empty model, same as the old path
            return spark.createDataFrame([], cents_schema), 1, 0.0
        cents_py: list[tuple[int, list[float]]] = [
            (0, [float(x) for x in seed_rows[0]["_v"]])
        ]
        for i in range(1, k):
            # max over current seeds == the old groupBy(_vid).agg(max sim):
            # array_max and the MAX aggregate share double ordering
            cl = F.array_max(
                F.transform(F.col("_cmat"), lambda cv: sim(F.col("_v"), cv))
            )
            far = (
                _with_matrix(src, cents_py)
                .select("_vid", "_v", cl.alias("_cl"))
                .orderBy(F.asc("_cl"), F.asc("_vid"))
                .limit(1)
                .select("_v")
                .collect()
            )
            cents_py.append((i, [float(x) for x in far[0]["_v"]]))

        shift = float("inf")
        iterations = 0
        for iterations in range(1, max_iterations + 1):
            best = F.array_max(
                F.zip_with(
                    F.col("_cmat"),
                    F.col("_negc"),
                    lambda cv, nc: F.struct(
                        sim(F.col("_v"), cv).alias("_s"), nc.alias("_nc")
                    ),
                )
            )
            assigned = _with_matrix(src, cents_py).select(
                (-best["_nc"]).cast("int").alias("cell_id"), F.col("_v")
            )
            # ONE per-cell aggregate with a decimal sum column PER
            # DIMENSION (r17, guide §2.4) — the dimensionality is known
            # from the seed vector, so the old posexplode → (cell, pos)
            # aggregate → (cell) collect_list re-assembly (two exchanges +
            # a sort per round) collapses into a single k-row aggregate.
            # Exact same arithmetic: decimal accumulation keeps each mean
            # reduction-order-free, the per-dim divisor counts exactly the
            # rows posexplode would have emitted for that pos (size > i —
            # NULL elements included, short vectors excluded), and the
            # double division is the same sum.cast(double)/count op.
            dim = len(cents_py[0][1])
            mean_cols = [
                (
                    F.sum(F.col("_v")[i].cast("decimal(28,12)")).cast("double")
                    / F.count(F.when(F.size(F.col("_v")) > i, F.lit(1)))
                ).alias(f"_m{i}")
                for i in range(dim)
            ]
            raw = (
                assigned.groupBy("cell_id")
                .agg(*mean_cols)
                .select(
                    "cell_id",
                    F.array(*[F.col(f"_m{i}") for i in range(dim)]).alias(
                        "_raw"
                    ),
                )
            )
            if l2:
                stepped = raw.select("cell_id", F.col("_raw").alias("_new"))
            else:
                rnorm = norm_expr(F.col("_raw"))
                stepped = raw.select(
                    "cell_id",
                    F.when(rnorm > 0, F.transform("_raw", lambda x: x / rnorm))
                    .otherwise(F.col("_raw"))
                    .alias("_new"),
                )
            new_rows = stepped.collect()  # ≤ k rows — the ONE job per round
            new_map = {
                r["cell_id"]: [float(x) for x in r["_new"]] for r in new_rows
            }
            merged = [
                (cid, new_map.get(cid, old), old) for cid, old in cents_py
            ]
            shift = max(_py_shift(newv, oldv) for cid, newv, oldv in merged)
            shift = shift or 0.0  # mirrors the old `first()[0] or 0.0`
            cents_py = [(cid, newv) for cid, newv, _ in merged]
            if shift < tol:
                break
        cents = spark.createDataFrame(
            [(cid, v) for cid, v in cents_py], cents_schema
        )
        return cents, iterations, shift
    finally:
        src.unpersist()


def embed_standardize(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension z-score standardization of an embedding column —
    the feature-normalization pass before distance-based work (ANN,
    k-means, cosine thresholds) when dimensions carry different
    scales. Returns (id, zvec) with zvec[d] = (x[d] − μ_d) / σ_d
    (population σ), zero-variance dimensions standardizing to 0.0.

    Scale shape: ONE (dim)-keyed hash aggregate over the exploded
    components (dim rows out — 64 here — regardless of corpus size),
    collapsed to a single sorted-array row and broadcast back; the
    normalization itself is a narrow per-row ``transform``. The corpus
    never shuffles.

    Determinism: components round to 6 dp then accumulate as
    DECIMAL(18,6) (order-free exact sums, the embedding_centroids
    pattern); σ derives through one explicitly-written double formula
    (`(Σx² − (Σx)²/n)/n`, clamped at 0) + sqrt; the final z uses plain
    round() — sqrt output is transcendental, .5-boundary probability
    ~0 (engine-exactness note in functions/hashing.py).
    """
    comp = F.round(F.col("_v").cast("double"), 6).cast("decimal(18,6)")
    stats = (
        embeddings.select(F.posexplode(F.col(vec_col)).alias("_d", "_v"))
        .groupBy("_d")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(comp).alias("_s"),
            F.sum(comp * comp).alias("_ss"),
        )
    )
    n = F.col("_n").cast("double")
    s = F.col("_s").cast("double")
    ss = F.col("_ss").cast("double")
    var = F.greatest((ss - s * s / n) / n, F.lit(0.0))
    packed = (
        stats.select(
            F.struct(
                F.col("_d"),
                (s / n).alias("_mean"),
                F.sqrt(var).alias("_std"),
            ).alias("_st")
        )
        .groupBy()
        .agg(F.sort_array(F.collect_list("_st")).alias("_stats"))
    )

    def z(x, i):
        st = F.element_at(F.col("_stats"), (i + F.lit(1)).cast("int"))
        return F.when(
            st["_std"] > 0,
            F.round(
                (F.round(x.cast("double"), 6) - st["_mean"]) / st["_std"], 6
            ),
        ).otherwise(F.lit(0.0))

    return embeddings.crossJoin(F.broadcast(packed)).select(
        F.col(id_col),
        F.transform(F.col(vec_col), z).alias("zvec"),
    )


def embedding_centroids(
    embeddings: DataFrame,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding centroid in LONG format — one row per
    (group, dimension) with the exact component mean — the vector
    aggregate under domain/topic profiling ("what does this source's
    embedding mass look like") and the seed step of any
    centroid-init clustering.

    Long format is deliberate: per-dimension rows keep the aggregation
    a plain (group, dim) hash aggregate — mergeable, map-side
    combined, skew-free (dimension spreads each group's mass across
    ``dim`` reducer keys) — and make the result directly
    oracle-checkable without float-array assembly. Callers wanting
    array form can ``collect_list(struct(dim, val))`` + sort, which is
    k·dim rows, trivially small.

    Engine parity: components are rounded to 6 decimals FIRST and
    summed as DECIMAL(18,6) (order-independent exact accumulation),
    then the mean is rounded to 6 via the floor-based
    ``round_half_away`` — the mean is a ratio of a decimal-exact sum
    and a count, so .5 boundaries at the 6th digit are REACHABLE and
    engine round() built-ins disagree on them (observed at sf0.1).
    """
    comp = F.round(F.col("_v").cast("double"), 6).cast("decimal(18,6)")
    return (
        embeddings.select(
            F.col(group_col), F.posexplode(F.col(vec_col)).alias("_d", "_v")
        )
        .groupBy(group_col, "_d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            round_half_away(
                F.sum(comp).cast("double") / F.count(F.lit(1)), 6
            ).alias("centroid_val"),
        )
        .select(
            group_col,
            F.col("_d").cast("long").alias("dim"),
            "n_vecs",
            "centroid_val",
        )
    )


# ---------------------------------------------------------------------------
# Persisted IVF index lifecycle (new r9): build / serve / append / drift
# ---------------------------------------------------------------------------

def _assign_with_sim(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, vec, cell_id, csim) nearest-centroid assignment — the
    :func:`ivf_assign` top-1 with the winning similarity kept (build
    stats and drift reports need it)."""
    scored = embeddings.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col(vec_col),
        "cell_id",
        cosine_expr(F.col(vec_col), F.col("cvec")).alias("csim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("csim"), F.asc("cell_id"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .drop("r")
    )


def _stats_dir(index_dir: str) -> str:
    return index_dir.rstrip("/") + "__stats"


def ivf_index_build(
    spark,
    embeddings: DataFrame,
    centroids: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF INVERTED LISTS as a parquet table
    partitioned by ``cell_id`` — the serve-side half of the quantizer
    lifecycle :func:`kmeans_fit_or_load` began. :func:`ivf_topk`
    re-assigns the whole corpus on every query; at 100 TB the
    assignment is corpus-sized work that belongs in a build/append
    job, and cell-partitioned layout means an ``nprobe``-cell probe
    READS ONLY THOSE CELLS' FILES (partition pruning at the scan —
    the scan cost tracks the probed fraction, not the corpus).

    Alongside the lists, ``<index_dir>__stats`` records the build's
    assignment-quality baseline (vector count + mean cosine
    dissimilarity to the assigned centroid) — the reference point
    :func:`ivf_drift_report` compares incoming batches against to
    decide when the frozen quantizer has drifted enough to retrain.
    """
    assigned = _assign_with_sim(embeddings, centroids, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(
        index_dir
    )
    built = spark.read.parquet(index_dir)
    stats = built.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        round_half_away(
            F.sum(
                (F.lit(1.0) - F.col("csim")).cast("decimal(38,12)")
            ).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_dissim"),
    )
    stats.write.mode("overwrite").parquet(_stats_dir(index_dir))


def ivf_index_append(
    spark,
    new_embeddings: DataFrame,
    centroids: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index growth: assign ONLY the new vectors against
    the frozen centroid model and append their rows into the
    cell-partitioned lists — work tracks the batch, never the corpus
    (the dedup-index serve contract, applied to the vector index).
    Appends are at-least-once under replays; the serve path's
    ``dropDuplicates(id)`` makes replayed rows harmless, and
    ``maintenance.compact_directory`` reclaims them offline. The
    build baseline in ``__stats`` is deliberately NOT updated —
    drift is always measured against the distribution the quantizer
    was TRAINED on."""
    assigned = _assign_with_sim(
        new_embeddings, centroids, id_col, vec_col
    )
    assigned.write.mode("append").partitionBy("cell_id").parquet(index_dir)


def ivf_index_topk(
    spark,
    index_dir: str,
    centroids: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k served FROM the persisted index: rank the query
    against the ``nprobe`` best cells' lists only. ``queries`` is a
    ``(query_id, qvec)`` frame (runtime input, not index content).

    Scale shape: probe cells come from a queries × k-centroids
    broadcast product (metadata-sized); the DISTINCT probed cell ids
    are collected to the driver (≤ nprobe × |queries| values) and
    pushed as a LITERAL ``cell_id IN (...)`` predicate so partition
    pruning eliminates every unprobed cell's files at the scan —
    the one collect is bounded by the query batch, never the corpus.
    ``dropDuplicates(id)`` absorbs at-least-once append replays
    before ranking. Output matches :func:`ivf_topk`:
    (query_id, neighbor_id, cosine, rank)."""
    qcells = queries.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "qvec",
        "cell_id",
        cosine_expr(F.col("qvec"), F.col("cvec")).alias("csim"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("csim"), F.asc("cell_id")
    )
    probes = (
        qcells.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select("query_id", "qvec", "cell_id")
    )
    cell_ids = [
        r["cell_id"] for r in probes.select("cell_id").distinct().collect()
    ]
    lists = (
        spark.read.parquet(index_dir)
        .filter(F.col("cell_id").isin(cell_ids))
        .dropDuplicates([id_col])
    )
    scored = (
        lists.join(F.broadcast(probes), "cell_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                cosine_expr(F.col("qvec"), F.col(vec_col)), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_index_recall_checked(
    spark,
    embeddings: DataFrame,
    centroids: DataFrame,
    index_dir: str,
    query_ids: list[int],
    k: int,
    min_recall: float = 0.2,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`ann_recall_checked`'s oracle contract, with the
    approximate tier served from the PERSISTED index: per query the
    EXACT brute-force top-k ids (hash-matched by the SQL oracle) plus
    the index-served recall-floor boolean. Identical output schema,
    so the registry gates the whole build/serve lifecycle."""
    exact = brute_force_topk(embeddings, query_ids, k, id_col, vec_col)
    queries = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    approx = ivf_index_topk(
        spark, index_dir, centroids, queries, k, nprobe, id_col, vec_col
    )
    return _recall_contract(exact, approx, k, min_recall)


def ivf_drift_report(
    spark,
    batch: DataFrame,
    centroids: DataFrame,
    index_dir: str,
    retrain_ratio: float = 1.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantizer drift monitor: assign the incoming batch against the
    FROZEN centroids and compare its mean cosine dissimilarity to the
    build-time baseline recorded by :func:`ivf_index_build`. A batch
    drawn from the training distribution lands near ratio 1.0; a
    shifted distribution assigns poorly (ratio grows) and
    ``retrain`` trips at ``retrain_ratio`` — the signal a pipeline
    uses to schedule a quantizer refit + index rebuild instead of
    silently serving a stale model. One row out; batch-sized work."""
    assigned = _assign_with_sim(batch, centroids, id_col, vec_col)
    batch_stats = assigned.agg(
        F.count(F.lit(1)).cast("long").alias("batch_n"),
        round_half_away(
            F.sum(
                (F.lit(1.0) - F.col("csim")).cast("decimal(38,12)")
            ).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("batch_mean_dissim"),
    )
    build = spark.read.parquet(_stats_dir(index_dir)).select(
        F.col("n_vectors").alias("build_n"),
        F.col("mean_dissim").alias("build_mean_dissim"),
    )
    ratio = F.round(
        F.col("batch_mean_dissim") / F.col("build_mean_dissim"), 6
    )
    return batch_stats.crossJoin(F.broadcast(build)).select(
        "batch_n",
        "batch_mean_dissim",
        "build_n",
        "build_mean_dissim",
        ratio.alias("drift_ratio"),
        (ratio > retrain_ratio).alias("retrain"),
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection (r9)
# ---------------------------------------------------------------------------

#: Default JL output dimensionality (64-dim corpus embeddings → 16).
JL_OUT_DIM = 16

#: Fixed-point scale for embedding components inside the projection
#: fold: micros. Long accumulation is order-independent and bit-exact
#: across engines (the dsir/quality-classifier idiom).
JL_SCALE = 1_000_000


def jl_sign_matrix(
    out_dim: int, in_dim: int, seed: str = "jl:"
) -> list[list[int]]:
    """Deterministic ±1 sign matrix for the JL projection, derived
    PYTHON-SIDE from the shared md5 family (``md5(seed:o:j)`` low bit)
    so both engines consume the identical literal — the
    quality-classifier weight-vector pattern, not a runtime RNG
    (``rand()`` differs per engine, partitioning, and retry).

    Achlioptas (2003) shows ±1 entries satisfy the JL lemma with the
    same ``1/√k`` scaling as Gaussian projections — and integer signs
    keep the dot product in exact fixed-point arithmetic.
    """
    import hashlib

    return [
        [
            1
            - 2
            * (
                int(
                    hashlib.md5(
                        f"{seed}{o}:{j}".encode()
                    ).hexdigest()[:15],
                    16,
                )
                % 2
            )
            for j in range(in_dim)
        ]
        for o in range(out_dim)
    ]


def jl_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    in_dim: int,
    out_dim: int = JL_OUT_DIM,
    seed: str = "jl:",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: map each embedding to
    ``out_dim`` dimensions via a literal ±1 sign matrix scaled by
    ``1/√out_dim`` — the dimensionality-reduction step a 100 TB
    embedding pipeline runs BEFORE LSH banding or IVF training, since
    every downstream distance computation then costs ``out_dim/in_dim``
    of the original (pairwise distances preserved within the JL ε).

    Engine parity: components are rounded once to integer micros; each
    output coordinate is a LONG fold over (micros × ±1) — exact and
    order-independent. The final ``/ (scale·√k)`` is where naive 6dp
    float rounding BREAKS parity: for a perfect-square ``out_dim`` the
    divisor is an integer (16 → 4·10⁶) and every dot with
    ``dot ≡ 2 (mod 4)`` sits EXACTLY on a .5 boundary at 6dp — the
    observed failure mode, the two engines' double representations
    round such ties in different directions on ~¼ of coordinates. So
    when ``scale·√k`` is integral the half-away rounding happens in
    EXACT INTEGER arithmetic (``sgn·((|dot| + d/2) div d)`` micros,
    then one exact integer-to-double division); the float path only
    remains for irrational ``√k``, where ties have measure zero. The
    micros array is bound as a lambda variable so the per-component
    rounding runs once per row, not once per output dimension (see
    :func:`..operators.text.hashed_uni_bigram_buckets`).

    Scale shape: pure per-row narrow transform — zero shuffle, the
    sign matrix constant-folds into the plan (out_dim × in_dim
    literals), nothing is broadcast or joined. NULL vectors propagate
    NULL (no embedding → no projection).

    Returns ``(id, jlvec array<double>)``.
    """
    import math

    root = math.isqrt(out_dim)
    denom = root if root * root == out_dim else None
    if denom is not None:
        # the dot is already in micros (components × JL_SCALE), so
        # the output coordinate in micros is dot/√k — the integer
        # divisor is √k alone, and the one float division by
        # JL_SCALE comes last
        def finalize(dot: Column) -> Column:
            return _div_half_away(dot, denom).cast("double") / F.lit(
                float(JL_SCALE)
            )

    else:
        inv = 1.0 / (float(JL_SCALE) * math.sqrt(out_dim))

        def finalize(dot: Column) -> Column:
            return F.round(dot.cast("double") * F.lit(inv), 6)

    jl = _jl_fold(vec_col, in_dim, out_dim, seed, finalize)
    return df.select(F.col(id_col), jl.alias("jlvec"))


def _div_half_away(dot: Column, denom: int) -> Column:
    """Half-away-from-zero round of ``dot/denom`` in pure long
    arithmetic: SQL integral ``div``, never IEEE double division —
    a double quotient of operands above 2⁵³ silently misrounds by
    one ulp (verified), diverging from the oracle's exact ``//``."""
    a = F.abs(dot) + F.lit(denom // 2)
    q = F.call_function("div", a, F.lit(denom))
    return F.when(dot < 0, -q).otherwise(q)


def _div_half_away_col(s: Column, d: Column) -> Column:
    """Column-denominator variant of :func:`_div_half_away` (d > 0):
    ⌊(2|s| + d) div 2d⌋ is the half-away-from-zero round of |s|/d in
    exact long arithmetic (same no-double-division rule)."""
    q = F.call_function("div", F.abs(s) * 2 + d, d * 2)
    return F.when(s < 0, -q).otherwise(q)


def _jl_fold(
    vec_col: str,
    in_dim: int,
    out_dim: int,
    seed: str,
    finalize,
) -> Column:
    """The shared JL projection fold: per output coordinate, a LONG
    fold of (input micros × literal ±1 sign), passed through
    ``finalize(dot_long)``. The micros array is bound as a lambda
    variable so the per-component input rounding runs once per row,
    not once per output dimension. NULL input vector → NULL output
    (transform-over-sequence would otherwise yield a non-NULL array
    of NULL coords)."""
    signs = jl_sign_matrix(out_dim, in_dim, seed)
    marr = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in signs]
    )

    def over_mic(mic: Column) -> Column:
        def coord(o: Column) -> Column:
            dot = F.aggregate(
                F.sequence(F.lit(1), F.lit(in_dim)),
                F.lit(0).cast("long"),
                lambda acc, j: acc
                + F.element_at(mic, j)
                * F.element_at(F.element_at(marr, o), j),
            )
            return finalize(dot)

        return F.transform(F.sequence(F.lit(1), F.lit(out_dim)), coord)

    mic_expr = F.transform(
        F.col(vec_col),
        lambda v: F.round(v.cast("double") * JL_SCALE).cast("long"),
    )
    out = F.element_at(F.transform(F.array(mic_expr), over_mic), 1)
    return F.when(F.col(vec_col).isNotNull(), out)


def _jl_micros(
    vec_col: str,
    in_dim: int,
    out_dim: int,
    seed: str,
) -> Column:
    """JL coordinates as EXACT integer micros (``array<long>``) — the
    all-integer tier :func:`semdedup` builds on, so every downstream
    sum/dot stays in order-independent long arithmetic. Requires a
    perfect-square ``out_dim`` (integral √k is what keeps the
    coordinate division exact)."""
    import math

    root = math.isqrt(out_dim)
    if root * root != out_dim:
        raise ValueError(
            f"_jl_micros requires a perfect-square out_dim; got {out_dim}"
        )
    return _jl_fold(
        vec_col, in_dim, out_dim, seed, lambda dot: _div_half_away(dot, root)
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup in JL space (r9)
# ---------------------------------------------------------------------------

#: Coarse cell count for semdedup = 2^SEMDEDUP_CELL_BITS. 8 bits →
#: 256 cells; scale n_cell_bits with the corpus so cells stay at the
#: target size (the K of SemDeDup's k-means).
SEMDEDUP_CELL_BITS = 8


def semdedup(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int = 64,
    out_dim: int = JL_OUT_DIM,
    n_cell_bits: int = SEMDEDUP_CELL_BITS,
    block_size: int = 256,
    jl_seed: str = "jl:",
    cell_seed: str = "cell:",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication that restricts the pairwise search to CLUSTERS —
    the trick that takes embedding dedup from O(N²) to O(Σ n_c²) —
    then, inside every duplicate group, KEEPS the member with the
    LOWEST cosine similarity to its cluster centroid (the paper's
    keep-rule: near-dup groups huddle around cluster centers, so the
    outermost member carries the most marginal information) and drops
    the rest. Contrast :func:`embedding_dedup_clusters`, which pairs
    via banded RH-LSH and keeps the min-id representative.

    Spark-first composition, all stages exact integer arithmetic:

    1. JL-reduce ``in_dim → out_dim`` via :func:`_jl_micros` — every
       later distance costs ``out_dim/in_dim`` of the original, and
       coordinates are exact longs (micros), so sums and dots are
       order-independent and engine-portable.
    2. Cluster = coarse random-hyperplane cell: ``n_cell_bits`` sign
       bits of ⟨mic, ±1 row⟩ (literal md5-derived matrix, seed
       ``cell_seed``) → cell id in [0, 2^bits). A deterministic,
       trainingless stand-in for the paper's k-means: both put
       near-collinear vectors in the same cluster, and the literal
       matrix means DuckDB reproduces the assignment bit-for-bit.
    3. Cell centroid = per-dimension MEAN of member micros, rounded
       half-away back to integer micros (exact long arithmetic) — so
       centroid components stay in the same micros range as member
       components no matter how large the cell, which is what keeps
       the downstream folds inside long range (raw SUMS overflowed
       ‖S‖² at the 100× probe: ~200 correlated members × 1.6e7
       micros squared passes 2⁶³).
    4. Within-cell exact-cosine pairs ≥ threshold, block-tiled: a
       per-cell dense rank tiles each cell into ``block_size`` rows,
       so one oversized cell spreads over (n_c/block)² tasks instead
       of a single quadratic straggler (the cosine_threshold_pairs
       geometry, keyed by (cell, bi, bj)).
    5. Connected components over the near-dup edges (edges never
       cross cells, so components are cell-local), then per
       component keep = argmin (centroid_sim, id).

    Parity: cosines are built from three exact-long folds (num, ‖a‖²,
    ‖c‖²) converted to double ONCE each — long→double conversion,
    sqrt, and division are all correctly rounded in IEEE 754, so both
    engines produce bit-identical similarities and therefore identical
    threshold and argmin decisions; no rounding idiom needed anywhere.
    Long-overflow envelope: with the centroid rounded to mean micros,
    every fold operand is bounded by per-vector micros (|mic_j| ≤
    in_dim·scale·max|x|/√k), so dots stay ≤ k·max², independent of
    cell size; the only cell-size-bounded quantity is the centroid
    SUM itself, safe to ~10¹¹ members per cell.

    Scale shape: one narrow projection scan; one ≤2^bits-group
    centroid aggregate (map-side combined); one broadcast of ≤2^bits
    centroid rows; the tiled pair join shuffles only 16-dim micros
    vectors (out_dim/in_dim of the raw payload); CC runs over the
    sparse edge set; the final argmin is one component-keyed window
    over (id, sim) rows.

    Returns ``(id, cell, group_rep, keep)`` for every vector that is
    non-NULL and has no NULL component (both exclusions explicit and
    oracle-mirrored): ``group_rep`` = min id in the near-dup group
    (singletons are their own group and keep themselves), ``keep`` =
    the SemDeDup retention decision.
    """
    from .graph import connected_components

    members, pairs = _semdedup_frames(
        embeddings,
        threshold,
        id_col,
        vec_col,
        in_dim,
        out_dim,
        n_cell_bits,
        block_size,
        jl_seed,
        cell_seed,
    )
    comp = connected_components(
        members.select(F.col("_id").alias("node")), pairs, "node", "id_a", "id_b"
    )
    keep_w = Window.partitionBy("group_rep").orderBy("_csim", "_id")
    return (
        members.join(comp, members["_id"] == comp["node"])
        .select(
            "_id",
            "_cell",
            "_csim",
            F.col("component").alias("group_rep"),
        )
        .withColumn("keep", F.row_number().over(keep_w) == 1)
        .select(
            F.col("_id").alias(id_col),
            F.col("_cell").alias("cell"),
            "group_rep",
            "keep",
        )
    )


def _semdedup_frames(
    embeddings: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    in_dim: int,
    out_dim: int,
    n_cell_bits: int,
    block_size: int,
    jl_seed: str,
    cell_seed: str,
) -> tuple[DataFrame, DataFrame]:
    """semdedup stages 1-4: ``(members, pairs)`` — members =
    (_id, _cell, _mic, _na, _csim) per non-NULL vector, pairs = the
    within-cell near-dup edges. Split out so the tiled-join plan
    shape is testable directly (connected_components materializes its
    iterations, hiding the pair join from the final plan)."""
    from .caching import track_persist

    if not 0 < n_cell_bits <= 62:
        raise ValueError(f"n_cell_bits out of range: {n_cell_bits}")

    mic = _jl_micros(vec_col, in_dim, out_dim, jl_seed)
    # NULL contract, explicit on BOTH axes: NULL vectors are excluded,
    # and so are vectors with any NULL COMPONENT — without this filter
    # they fall out ANYWAY (NULL mic → NULL cell → dropped by the
    # null-rejecting centroid equi-join), but silently and in a way
    # the DuckDB oracle (whose list_sum SKIPS null elements) would not
    # reproduce; the filter makes the drop a stated, mirrored rule
    src = embeddings.filter(
        F.col(vec_col).isNotNull()
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    ).select(F.col(id_col).alias("_id"), mic.alias("_mic"))

    cell_rows = jl_sign_matrix(n_cell_bits, out_dim, cell_seed)

    def lit_dot(row: list[int]) -> Column:
        h = F.array(*[F.lit(v) for v in row])
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(out_dim)),
            F.lit(0).cast("long"),
            lambda acc, j: acc
            + F.element_at(F.col("_mic"), j) * F.element_at(h, j),
        )

    cell = None
    for i, row in enumerate(cell_rows):
        bit = (lit_dot(row) >= 0).cast("long") * F.lit(1 << i)
        cell = bit if cell is None else cell + bit
    # ‖mic‖² once per member — reused by both the centroid sim and
    # every pair sim this member participates in
    na = F.aggregate(
        F.col("_mic"),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x * x,
    )
    src = track_persist(
        src.select("_id", "_mic", cell.alias("_cell"), na.alias("_na"))
    )

    # 3. centroid = half-away-rounded MEAN micros (exact longs;
    # ≤ 2^bits groups). Rounding the mean back to micros keeps
    # centroid components in the per-vector micros range — raw sums
    # overflow ‖S‖² in large cells (see docstring).
    cent = (
        src.select(
            "_cell",
            *[
                F.element_at("_mic", j + 1).alias(f"_m{j}")
                for j in range(out_dim)
            ],
        )
        .groupBy("_cell")
        .agg(
            *[F.sum(f"_m{j}").alias(f"_s{j}") for j in range(out_dim)],
            F.count(F.lit(1)).alias("_cn"),
        )
        .select(
            "_cell",
            F.array(
                *[
                    _div_half_away_col(F.col(f"_s{j}"), F.col("_cn"))
                    for j in range(out_dim)
                ]
            ).alias("_cent"),
        )
    )

    def cos_from_longs(num: Column, n2a: Column, n2b: Column) -> Column:
        return F.when((n2a == 0) | (n2b == 0), F.lit(0.0)).otherwise(
            num.cast("double")
            / (F.sqrt(n2a.cast("double")) * F.sqrt(n2b.cast("double")))
        )

    def arr_dot(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def arr_norm2(a: Column) -> Column:
        return F.aggregate(
            a, F.lit(0).cast("long"), lambda acc, x: acc + x * x
        )

    members = src.join(F.broadcast(cent), "_cell").select(
        "_id",
        "_cell",
        "_mic",
        "_na",
        cos_from_longs(
            arr_dot(F.col("_mic"), F.col("_cent")),
            F.col("_na"),
            arr_norm2(F.col("_cent")),
        ).alias("_csim"),
    )
    members = track_persist(members)

    # 4. block-tiled within-cell pairs (per-cell dense rank → tiles)
    w = Window.partitionBy("_cell").orderBy("_id")
    ranked = members.select(
        "_id",
        "_cell",
        "_mic",
        "_na",
        F.floor((F.row_number().over(w) - 1) / block_size).alias("_blk"),
    ).withColumn(
        "_nb", F.max("_blk").over(Window.partitionBy("_cell")) + 1
    )
    a = ranked.select(
        F.col("_id").alias("id_a"),
        F.col("_cell"),
        F.col("_mic").alias("ma"),
        F.col("_na").alias("naa"),
        F.col("_blk").alias("_bi"),
        F.explode(F.sequence(F.col("_blk"), F.col("_nb") - 1)).alias("_bj"),
    )
    b = ranked.select(
        F.col("_id").alias("id_b"),
        F.col("_cell").alias("_cell2"),
        F.col("_mic").alias("mb"),
        F.col("_na").alias("nab"),
        F.col("_blk").alias("_bj2"),
        F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("_bi2"),
    )
    pairs = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("_cell") == F.col("_cell2"))
            & (F.col("_bi") == F.col("_bi2"))
            & (F.col("_bj") == F.col("_bj2"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn(
            "_sim",
            cos_from_longs(
                arr_dot(F.col("ma"), F.col("mb")),
                F.col("naa"),
                F.col("nab"),
            ),
        )
        .filter(F.col("_sim") >= threshold)
        .select("id_a", "id_b")
    )
    return members, pairs


# ---------------------------------------------------------------------------
# Product quantization (r9) — the IVF-PQ compression tier
# ---------------------------------------------------------------------------

#: Default PQ geometry: 4 subspaces × 16 centroids (4-bit codes) —
#: a 64-dim float64 vector compresses 512 bytes → 4 code bytes.
PQ_M = 4
PQ_K = 16


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_train(
    embeddings: DataFrame,
    in_dim: int,
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iterations: int = 8,
) -> DataFrame:
    """Train product-quantization codebooks (Jégou et al. 2011): split
    each vector into ``m`` contiguous subvectors and fit an L2
    k-means codebook of ``k`` centroids per subspace — the compression
    tier FAISS pairs with IVF, taking per-vector storage from
    ``in_dim`` floats to ``m`` small codes while approximate distances
    remain computable from per-query lookup tables (:func:`pq_adc_topk`).

    Subspace codebooks use ``metric="l2"`` (plain Lloyd's): subvector
    NORMS carry real distance information that spherical k-means'
    normalization would destroy. ``m`` driver-loop fits over
    corpus-sized frames, each the audited :func:`kmeans_fit` shape —
    training is fit-once-per-corpus-version (:func:`pq_fit_or_load`),
    never a serve-path cost.

    Returns ``(sub_id int, cell_id int, cvec array<double>)`` —
    m·k rows, metadata-sized for any sane geometry.
    """
    if in_dim % m != 0:
        raise ValueError(f"in_dim {in_dim} not divisible by m {m}")
    sub_dim = in_dim // m
    out = None
    for s in range(m):
        sub = embeddings.select(
            F.col(id_col),
            F.slice(F.col(vec_col).cast("array<double>"),
                    s * sub_dim + 1, sub_dim).alias("_sv"),
        )
        cents, _, _ = kmeans_fit(
            sub, k, max_iterations, 1e-9, id_col, "_sv", metric="l2"
        )
        part = cents.select(
            F.lit(s).alias("sub_id"), "cell_id", "cvec"
        )
        out = part if out is None else out.unionByName(part)
    return out


def pq_fit_or_load(
    spark,
    embeddings: DataFrame,
    in_dim: int,
    model_path: str,
    m: int = PQ_M,
    k: int = PQ_K,
    **train_kwargs,
) -> DataFrame:
    """Train/serve split for the PQ codebooks — the
    :func:`kmeans_fit_or_load` contract: load the persisted m·k-row
    codebook table when present and well-formed (schema + exact row
    count), refit-and-overwrite otherwise. ``pq_train`` is
    deterministic, so load-vs-refit is bit-identical."""
    import os

    if os.path.exists(os.path.join(model_path, "_SUCCESS")):
        cb = spark.read.parquet(model_path)
        fields = {f.name: f.dataType.simpleString() for f in cb.schema}
        if (
            fields.get("sub_id") is not None
            and fields.get("cell_id") is not None
            and fields.get("cvec") == "array<double>"
        ):
            rows = cb.take(m * k + 1)
            # the FULL geometry must match, not just the row product:
            # a 32x8 table also has 256 rows, and a codebook trained
            # at a different in_dim has the wrong sub-vector width —
            # zip_with would NULL-pad every distance downstream
            if (
                len(rows) == m * k
                and {r["sub_id"] for r in rows} == set(range(m))
                and all(len(r["cvec"]) == in_dim // m for r in rows)
            ):
                return cb
    cb = pq_train(embeddings, in_dim, m, k, **train_kwargs)
    cb.write.mode("overwrite").parquet(model_path)
    return spark.read.parquet(model_path)


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    in_dim: int,
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as its per-subspace nearest-centroid codes:
    ``(id, codes array<int> length m)``.

    Shape: explode to (id, sub_id, subvector) — m narrow rows per
    vector — broadcast-join the m·k codebook rows, argmin squared-L2
    per (id, sub) with cell_id tie-break, then collect the m codes
    back into order. The only shuffle carries (id, sub, code) triples.
    """
    if in_dim % m != 0:
        raise ValueError(f"in_dim {in_dim} not divisible by m {m}")
    sub_dim = in_dim // m
    subs = embeddings.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).select(
        id_col,
        "sub_id",
        F.slice(
            "_v", F.col("sub_id") * sub_dim + 1, F.lit(sub_dim)
        ).alias("_sv"),
    )
    best = (
        subs.join(F.broadcast(codebooks), "sub_id")
        .groupBy(id_col, "sub_id")
        .agg(
            F.min(
                F.struct(
                    _sq_dist(F.col("_sv"), F.col("cvec")).alias("_d"),
                    F.col("cell_id").alias("_c"),
                )
            )["_c"].alias("code")
        )
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_id", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int,
    in_dim: int,
    m: int = PQ_M,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query build
    the (sub, cell) → squared-distance lookup table (m·k rows,
    broadcast), then every encoded vector's approximate distance is
    the SUM of m table lookups — the corpus side never touches floats
    wider than its codes. Queries: ``(query_id, qvec)``.

    Returns ``(query_id, neighbor_id, adc_dist, rank)``; ties break on
    neighbor id. Self-matches are NOT excluded (caller filters if the
    queries come from the corpus)."""
    if in_dim % m != 0:
        raise ValueError(f"in_dim {in_dim} not divisible by m {m}")
    sub_dim = in_dim // m
    table = (
        queries.crossJoin(F.broadcast(codebooks))
        .select(
            "query_id",
            "sub_id",
            F.col("cell_id").alias("code"),
            _sq_dist(
                F.slice(
                    F.col("qvec").cast("array<double>"),
                    F.col("sub_id") * sub_dim + 1,
                    F.lit(sub_dim),
                ),
                F.col("cvec"),
            ).alias("_d"),
        )
    )
    exploded = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("sub_id", "code"),
    )
    scored = (
        exploded.join(F.broadcast(table), ["sub_id", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("_d").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def pq_recall_checked(
    embeddings: DataFrame,
    codebooks: DataFrame,
    query_ids: list[int],
    k: int,
    in_dim: int,
    m: int = PQ_M,
    min_recall: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """The PQ tier's registry contract, same shape as
    :func:`ann_recall_checked`: per query the EXACT brute-force top-k
    (SQL-expressible → DuckDB hash-matches it) plus a recall-floor
    boolean the oracle asserts TRUE — catastrophic PQ breakage (wrong
    join, empty codebook, mis-sliced subvector) reddens the row, while
    the exact recall VALUE stays a pytest gate. ``codes`` optionally
    supplies a PERSISTED code table (the serve path) so the gate
    never re-encodes the corpus per invocation. Compression here is
    lossy BY DESIGN (m small codes per vector), so the floor is the sanity
    bound, not the quality bar."""
    exact = brute_force_topk(embeddings, query_ids, k, id_col, vec_col)
    if codes is None:
        codes = pq_encode(embeddings, codebooks, in_dim, m, id_col, vec_col)
    queries = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    # k+1 then self-filter, then RE-RANK to exactly k: ADC
    # self-distance is the quantization error (not 0), and with heavy
    # exact duplication self can even fall outside the k+1 window —
    # the re-rank guarantees the floor is judged against k candidates
    # whether or not self appeared
    w_rerank = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    approx = (
        pq_adc_topk(codes, codebooks, queries, k + 1, in_dim, m, id_col)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("_rr", F.row_number().over(w_rerank))
        .filter(F.col("_rr") <= k)
    )
    return _recall_contract(exact, approx, k, min_recall)
