"""Deduplication operators (M4(d) + training-data-pipeline set).

Five families, each chosen for a different scale/fidelity point:

* exact            — hash groupBy on content (one shuffle, fully exact)
* n-gram Jaccard   — exact pairwise similarity via shingle inverted
                     index (explode → self-join → count); the join is
                     bounded by shingle document-frequency capping
* MinHash + LSH    — near-dup at scale: O(docs × bands) candidate
                     generation instead of O(docs²); candidates are
                     verified with exact Jaccard so output precision
                     is 1.0 (recall is the banding probability)
* SimHash          — 60-bit fingerprint; the 4-block pigeonhole join
                     gives EXACT recall for hamming distance ≤ 3
* embedding cosine — near-dup over vectors (delegates to similarity)

All hashing goes through functions/hashing.py (md5-based, engine-
portable) so every step is reproducible in the DuckDB oracle.
No Python UDFs anywhere — higher-order array functions keep the
per-document work JVM-side and narrow; only candidate generation
shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .caching import track_persist
from ..functions.hashing import (
    affine_hash,
    hash_params,
    md5_int,
    round_half_away,
    shingle_chars,
    token_array,
)

SIMHASH_BITS = 60  # md5_int yields exactly 60 usable bits
SIMHASH_BLOCKS = 4  # pigeonhole: ≤3 differing bits → ≥1 identical block
# 60/4 = 15-bit blocks: on low-entropy corpora (similar token stats →
# clustered fingerprints) block-bucket sizes drive the pair join; every
# extra block bit halves expected bucket size, so 15-bit blocks cut the
# join volume ~8× vs 12-bit while keeping exact ≤3-hamming recall.

#: Character-shingle width. 5-grams, not 3-grams: on small-vocabulary
#: corpora the 3-gram space is so tiny that unrelated documents share
#: most shingles (measured background Jaccard ≈ 0.6 on the synthetic
#: corpus), which floods MinHash-LSH banding with candidate pairs. At
#: n=5 the background drops to ≈ 0.18 while true near-duplicates stay
#: ≥ 0.9 — candidates shrink by ~30× with recall intact.
DEFAULT_SHINGLE_N = 5


def _require_band_geometry(n_hashes: int, bands: int) -> None:
    """LSH banding needs ``bands`` to divide ``n_hashes`` exactly —
    raise ``ValueError`` (not assert, which ``python -O`` strips;
    ADVICE r6) so an index can never be BUILT with geometry the serve
    path would have to reject."""
    if bands <= 0 or n_hashes % bands != 0:
        raise ValueError(
            f"LSH geometry invalid: bands={bands} must be positive and "
            f"divide n_hashes={n_hashes} exactly (rows-per-band must be "
            "an integer)"
        )


def dedup_exact(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: one representative (min id) per distinct content.

    groupBy-min rather than ``dropDuplicates`` because the latter keeps
    an *arbitrary* row per key — nondeterministic across runs and
    partitionings, which is unacceptable for a reproducible pipeline.
    """
    return df.groupBy(*content_cols).agg(F.min(id_col).alias(id_col))


def dedup_exact_content(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Content-level exact dedup over a document table: fingerprint the
    whitespace-normalized lowercase text (sha256 — collision-averse at
    corpus scale), then one representative (min id) + multiplicity per
    distinct fingerprint. One narrow hash pass + one shuffle on the
    fingerprint — the content analogue of :func:`dedup_exact`, which
    groups on raw key columns.
    """
    from .text import fingerprints

    fp = fingerprints(df, text_col, id_col)
    return fp.groupBy("sha256_fp").agg(
        F.min(id_col).alias(id_col), F.count("*").alias("n_copies")
    )


def _exploded_lines(df, text_col: str, id_col: str, delimiter: str):
    """Shared line-explode + key expression for every line-level dedup
    path (corpus-df computation, index build, index serve): one
    definition so the batch and streaming sides can never key lines
    differently (the content_norm argument, applied to lines)."""
    from .text import content_norm

    return df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), delimiter)).alias(
            "line_no", "line"
        ),
    ).withColumn("line_key", F.md5(content_norm(F.col("line"))))


def _reassemble_kept(delimiter: str):
    """Order-preserving reassembly of non-boilerplate lines: struct
    sort on (line_no, line) makes the concat deterministic under any
    partitioning. Expects an ``is_boiler`` null-marker column."""
    return F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("is_boiler").isNull(),
                        F.struct("line_no", "line"),
                    )
                )
            ),
            lambda st: st["line"],
        ),
        delimiter,
    )


def line_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_line_df: int = 2,
    delimiter: str = "\n",
) -> DataFrame:
    """CCNet-style line-level boilerplate removal (VERDICT r6 missing
    #4): drop every line that appears in MORE THAN ``max_line_df``
    distinct documents — headers, footers, nav chrome, cookie banners —
    BEFORE document-level near-dup, exactly as production corpus
    pipelines do (CCNet, RefinedWeb). Returns one row per document:
    ``(id, n_lines, kept_lines, kept_fraction, text_clean)`` where
    ``text_clean`` is the surviving lines re-joined in original order.

    Line identity is :func:`text.content_norm` of the line (trim →
    lower → collapse whitespace) hashed with md5 — reformatting a
    footer does not hide it, and the df aggregate shuffles 16-byte
    keys, never line text.

    Scale shape (three stages, two key shuffles):

    1. ``posexplode`` on the delimiter — narrow, no shuffle; carries
       (id, line_no, line).
    2. boilerplate key set: groupBy(line_key) ⇒ countDistinct(id) —
       the shuffle carries DISTINCT (line_key, id) pairs (Spark's
       distinct-aggregate Expand dedups map-side), i.e. line keys, not
       line instances. The surviving set (df > threshold) is the
       frequent tail only — at web scale a few million nav-chrome
       lines, orders of magnitude below the instance count — so the
       join back in stage 3 is AQE-broadcastable in practice; the plan
       stays correct (plain shuffle join) when it is not.
    3. left join instances ⋈ boilerplate keys to mark drops, then one
       groupBy(id) reassembling survivors via
       ``array_sort(collect_list(struct(line_no, line)))`` — struct
       sort orders by line_no first, making the concat deterministic
       under any partitioning.

    The threshold contract is ``>`` (a line in exactly ``max_line_df``
    docs survives); oracle mirrors it with HAVING count(DISTINCT) >.
    """
    # persisted: BOTH the df aggregate and the instance join consume
    # the exploded lines — without it the split+normalize+md5 pipeline
    # (and any upstream segmentation expression feeding text_col)
    # recomputes once per consumer. Same precedent as the shingle
    # persist in the MinHash path; tracked → released by
    # caching.release_cached() after the action.
    lines = track_persist(_exploded_lines(df, text_col, id_col, delimiter))
    boiler = (
        lines.groupBy("line_key")
        .agg(F.countDistinct(id_col).alias("line_doc_freq"))
        .filter(F.col("line_doc_freq") > max_line_df)
        .select("line_key", F.lit(True).alias("is_boiler"))
    )
    marked = lines.join(boiler, "line_key", "left")
    kept = F.sum(F.when(F.col("is_boiler").isNull(), 1).otherwise(0))
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            kept.alias("kept_lines"),
            _reassemble_kept(delimiter).alias("text_clean"),
        )
        .select(
            F.col(id_col),
            "n_lines",
            "kept_lines",
            round_half_away(
                F.col("kept_lines").cast("double")
                / F.col("n_lines").cast("double"),
                6,
            ).alias("kept_fraction"),
            "text_clean",
        )
    )


def build_line_boilerplate_index(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    max_line_df: int = 2,
    delimiter: str = "\n",
) -> None:
    """FIT side of line-level boilerplate removal at ingest time
    (the CCNet deployment shape): persist the corpus's FREQUENT line
    keys — md5 of the normalized line for every line appearing in more
    than ``max_line_df`` distinct documents — so the streaming serve
    path can scrub arriving documents without touching the corpus.
    The index stores 16 bytes per boilerplate line (the frequent tail
    only), plus a meta table pinning the threshold/delimiter so serve
    can refuse a mismatched index."""
    lines = _exploded_lines(corpus, text_col, id_col, delimiter).select(
        id_col, "line_key"
    )
    (
        lines.groupBy("line_key")
        .agg(F.countDistinct(id_col).alias("line_doc_freq"))
        .filter(F.col("line_doc_freq") > max_line_df)
        .select("line_key")
        .write.mode("overwrite")
        .parquet(f"{index_path}/boiler_lines")
    )
    corpus.sparkSession.createDataFrame(
        [(max_line_df, delimiter)], "max_line_df int, delimiter string"
    ).write.mode("overwrite").parquet(f"{index_path}/meta")


def scrub_boilerplate_lines(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    delimiter: str = "\n",
) -> DataFrame:
    """SERVE side: drop every line whose key is in the persisted
    boilerplate index — works identically on a batch frame or inside
    ``foreachBatch`` (explode → left-anti against the index →
    order-preserving reassembly), so the batch form IS the streaming
    oracle. Work per call: one pass over the ARRIVING docs plus the
    anti-join against the (frequent-tail-sized, AQE-broadcastable)
    key set; the corpus is never read.

    Returns (id, n_lines, kept_lines, text_clean) — same reassembly
    contract as :func:`line_dedup`, minus the corpus-df computation it
    delegates to the index build."""
    spark = docs.sparkSession
    meta = spark.read.parquet(f"{index_path}/meta").head()
    if meta.delimiter != delimiter:
        raise ValueError(
            f"boilerplate index at {index_path} was built with delimiter "
            f"{meta.delimiter!r}, serve path requested {delimiter!r}"
        )
    boiler = spark.read.parquet(f"{index_path}/boiler_lines").withColumn(
        "is_boiler", F.lit(True)
    )
    lines = _exploded_lines(docs, text_col, id_col, delimiter)
    marked = lines.join(boiler, "line_key", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                F.when(F.col("is_boiler").isNull(), 1).otherwise(0)
            ).alias("kept_lines"),
            _reassemble_kept(delimiter).alias("text_clean"),
        )
    )


def with_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = DEFAULT_SHINGLE_N, max_chars: int = 512
) -> DataFrame:
    """Attach the distinct character-n-gram shingle set (narrow op)."""
    return df.select(
        F.col(id_col), shingle_chars(F.col(text_col), n, max_chars).alias("shingles")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    n: int = DEFAULT_SHINGLE_N,
    max_chars: int = 512,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard via an inverted shingle index.

    explode(shingles) → self-join on shingle → per-pair intersection
    count → Jaccard = |∩| / (|A| + |B| − |∩|). At scale the self-join
    is dominated by high-document-frequency shingles; cap them with
    ``max_shingle_df`` (drops shingles appearing in more than that many
    docs — standard stopword-shingle pruning; leave None for exact
    oracle parity).

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to
    6 dp for cross-engine stability.
    """
    inter = _shingle_pair_intersections(
        df, text_col, id_col, n, max_chars, max_shingle_df
    )
    return (
        inter.withColumn(
            "jaccard",
            round_half_away(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shingle_pair_intersections(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_chars: int,
    max_shingle_df: int | None,
) -> DataFrame:
    """Shared inverted-index skeleton of the exact pair metrics
    (:func:`ngram_jaccard_pairs`, :func:`containment_pairs`):
    explode(shingles) → optional df-cap → self-join on shingle →
    per-pair intersection count → attach both set sizes. Returns
    (id_a, id_b, n_inter, n_a, n_b) with id_a < id_b — one place owns
    the df-cap semantics and the join predicate, so the two metrics
    can never silently diverge."""
    sh = with_shingles(df, text_col, id_col, n, max_chars)
    sizes = sh.select(F.col(id_col), F.size("shingles").alias("n_sh"))
    inv = sh.select(F.col(id_col), F.explode("shingles").alias("sh"))
    if max_shingle_df is not None:
        rare = (
            inv.groupBy("sh")
            .agg(F.count("*").alias("df_"))
            .filter(F.col("df_") <= max_shingle_df)
            .select("sh")
        )
        inv = inv.join(rare, "sh")

    a = inv.alias("a")
    b = inv.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    n: int = DEFAULT_SHINGLE_N,
    max_chars: int = 512,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT — the subset-duplication detector
    Jaccard misses: a short document quoted wholesale inside a long one
    scores |∩|/|A| ≈ 1 while Jaccard ≈ |A|/|B| stays low. Pipelines
    dedup on containment to drop embedded/quoted copies that the
    symmetric metric would keep.

    Same inverted-index skeleton (and therefore the same scale
    contract) as :func:`ngram_jaccard_pairs`: exact and O(Σ df²) by
    contract, ``max_shingle_df`` caps hot shingles, the banded MinHash
    tier is the documented 100 TB path for candidate generation.

    Returns (id_a, id_b, containment_a, containment_b, jaccard) with
    id_a < id_b, keeping pairs where EITHER direction's containment
    ≥ ``threshold``; ratios rounded to 6 dp for cross-engine parity.
    """
    inter = _shingle_pair_intersections(
        df, text_col, id_col, n, max_chars, max_shingle_df
    )
    cont_a = round_half_away(F.col("n_inter") / F.col("n_a"), 6)
    cont_b = round_half_away(F.col("n_inter") / F.col("n_b"), 6)
    return (
        inter.select(
            "id_a",
            "id_b",
            cont_a.alias("containment_a"),
            cont_b.alias("containment_b"),
            round_half_away(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(
            F.greatest(F.col("containment_a"), F.col("containment_b"))
            >= threshold
        )
    )


def edit_verified_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    candidate_threshold: float,
    edit_threshold: float,
    n: int = DEFAULT_SHINGLE_N,
    max_chars: int = 512,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Candidate-generate-then-verify near-dup detection with an EDIT
    DISTANCE confirmation stage — the two-phase shape production dedup
    pipelines use when shingle overlap alone over-fires (documents
    sharing vocabulary but not structure score high Jaccard yet are
    not edits of each other).

    Stage 1 (candidates): exact n-gram Jaccard ≥ ``candidate_threshold``
    via the shared inverted-index skeleton. Stage 2 (verify): join the
    two texts back onto each candidate pair and score
    ``edit_sim = 1 − levenshtein(a, b) / max(len(a), len(b), 1)`` over
    the same ``max_chars`` prefix the shingles saw. Pairs are ANNOTATED
    (boolean ``verified`` = edit_sim ≥ ``edit_threshold``), not
    filtered — downstream chooses the cut, and the gate hashes both
    populations.

    Scale shape: levenshtein is O(len²) PER PAIR — the whole point of
    the staging is that it runs on candidate volume, not corpus volume.
    The text join-back shuffles candidates + the (id, prefix)
    projection of the corpus; when candidates are small AQE broadcasts
    the pair side, so the corpus side never shuffles. At 100 TB the
    candidate stage is the banded-MinHash tier (same contract note as
    :func:`ngram_jaccard_pairs`); the verify stage is unchanged.

    Returns (id_a, id_b, jaccard, edit_sim, verified) with id_a < id_b;
    similarities rounded to 6 dp for cross-engine parity.
    """
    cands = ngram_jaccard_pairs(
        df, text_col, id_col, candidate_threshold, n, max_chars,
        max_shingle_df,
    )
    prefix = F.substring(F.col(text_col), 1, max_chars)
    ta = df.select(F.col(id_col).alias("id_a"), prefix.alias("_ta"))
    tb = df.select(F.col(id_col).alias("id_b"), prefix.alias("_tb"))
    edit_sim = round_half_away(
        F.lit(1.0)
        - F.levenshtein(F.col("_ta"), F.col("_tb"))
        / F.greatest(
            F.length("_ta"), F.length("_tb"), F.lit(1)
        ).cast("double"),
        6,
    )
    return (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            edit_sim.alias("edit_sim"),
            (edit_sim >= edit_threshold).alias("verified"),
        )
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """EXACT token-set Jaccard pairs ≥ ``threshold`` via AllPairs/
    PPJoin-style PREFIX FILTERING (Bayardo et al. WWW'07; Xiao et al.
    WWW'08) — recall 1.0 like the inverted-index tier, but the index
    only carries each document's RAREST tokens:

    order every document's distinct tokens by ascending global
    document frequency (total order: (df, token)); if
    ``J(x, y) ≥ t`` then ``|x ∩ y| ≥ ceil(t·|x|)``, and two sets with
    overlap ≥ o must collide within their first ``|s| − o + 1``
    ordered tokens — so indexing just the first
    ``|s| − ceil(t·|s|) + 1`` tokens per doc finds every qualifying
    pair. Candidate volume is Σ over PREFIX tokens of df², dominated
    by rare tokens, instead of Σ over ALL tokens — the principled
    replacement for the stopword-style ``max_shingle_df`` cap (which
    trades recall for the same effect).

    Scale shape: token-df aggregate (vocab-sized, map-side combined)
    → df join-back on the token stream → per-doc sorted-prefix build
    (one doc-key aggregate) → prefix inverted-index equi-join →
    exact verification on candidates only. Every join is keyed; no
    quadratic scan at any stage.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard exact on
    distinct word tokens of the normalized text, rounded 6 dp via the
    engine-exact helper.
    """
    from .text import content_norm

    toks = df.select(
        F.col(id_col),
        F.array_distinct(
            F.filter(
                F.split(content_norm(F.col(text_col)), " "),
                lambda x: F.length(x) > 0,
            )
        ).alias("toks"),
    )
    toks = track_persist(toks)
    long = toks.select(
        F.col(id_col), F.explode("toks").alias("token")
    )
    dfc = long.groupBy("token").agg(
        F.count(F.lit(1)).alias("tdf")
    )  # tokens are distinct per doc, so count == document frequency
    ordered = (
        long.join(dfc, "token")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("tdf", "token"))
            ).alias("_ord")
        )
        .select(
            F.col(id_col),
            F.transform("_ord", lambda s: s["token"]).alias("sorted_toks"),
        )
    )
    n = F.size("sorted_toks")
    p = n - F.ceil(F.lit(float(threshold)) * n.cast("double")).cast("int") + 1
    prefix = ordered.select(
        F.col(id_col),
        F.explode(F.slice("sorted_toks", 1, p)).alias("token"),
    )
    cand = (
        prefix.select(F.col(id_col).alias("id_a"), "token")
        .join(prefix.select(F.col(id_col).alias("id_b"), "token"), "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ta = toks.select(F.col(id_col).alias("id_a"), F.col("toks").alias("ta"))
    tb = toks.select(F.col(id_col).alias("id_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "jaccard",
            round_half_away(
                inter.cast("double")
                / (F.size("ta") + F.size("tb") - inter).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 64,
    n: int = DEFAULT_SHINGLE_N,
    max_chars: int = 512,
    seed: int = 42,
) -> DataFrame:
    """Per-doc MinHash signature as ``array<long>``. Shingles are
    exploded to one row each and md5-hashed ONCE (engine-portable
    hashing); each signature element is then a MIN aggregate of a cheap
    affine permutation of that hash, grouped by ``id_col``. Partial
    aggregation keeps the one shuffle at one row per doc — see
    :func:`_signatures_from_shingles` for why this beats a narrow
    ``array_min`` projection."""
    sh = with_shingles(df, text_col, id_col, n, max_chars)
    return _signatures_from_shingles(sh, id_col, n_hashes, seed)


def _signatures_from_shingles(
    sh: DataFrame, id_col: str, n_hashes: int, seed: int
) -> DataFrame:
    """Signature derivation over an existing (id, shingles) frame — lets
    callers that also need the raw shingles (LSH verification) compute
    the shingle scan once and fan both consumers off the persisted
    frame.

    Shape: explode + ``n_hashes`` MIN aggregates, NOT
    ``array_min(transform(hs, perm_i))`` columns. r16 briefly shipped
    the column formulation (zero-shuffle narrow projection); the r17
    A/B reverted it on evidence: min-per-arm over two interleaved
    REPS=3 pairs at sf0.1 read 3.25 s vs 2.63 s (array form 1.24x
    slower), and the 100x scale probe (500 k docs) read 67.9–187.6 s
    vs 40.3 s — the per-permutation ``transform`` materializes a full
    intermediate hash array per signature element (32 allocations of a
    ~500-element array PER DOC), which costs far more than the one-
    row-per-doc shuffle it saves; the MIN aggregate tracks each
    permutation in a codegen'd scalar buffer with no allocation at
    all. md5 lives in the Project BELOW the aggregate (an Aggregate is
    never collapsed into its child Project), so each shingle is hashed
    exactly once, and partial aggregation keeps the shuffle at one row
    per doc — at 100 TB the exchange carries |docs| signature rows,
    nothing shingle-sized. Same (id, signature) output, bit-identical:
    MIN over exploded rows equals array_min over the per-shingle
    permutation, and explode_outer's NULL row for empty/NULL shingle
    arrays yields NULL signature elements either way."""
    hashed = sh.select(
        F.col(id_col), F.explode_outer("shingles").alias("_s")
    ).select(F.col(id_col), md5_int(F.col("_s")).alias("_h"))
    aggs = [
        F.min(affine_hash(F.col("_h"), a, b)).alias(f"_m{i}")
        for i, (a, b) in enumerate(hash_params(n_hashes, seed))
    ]
    mins = hashed.groupBy(id_col).agg(*aggs)
    return mins.select(
        F.col(id_col),
        F.array(*[F.col(f"_m{i}") for i in range(n_hashes)]).alias("signature"),
    )


def band_buckets(
    sigs: DataFrame, id_col: str, bands: int, r: int
) -> DataFrame:
    """LSH band keys from a (id, signature) frame: md5 of each r-row
    signature slice, exploded to (id, band, bkey). ONE definition
    shared by the self-contained pair pipeline and the persisted-index
    incremental path — both sides of an index lookup must band
    identically or every near-dup silently misses."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.md5(
                    F.concat_ws(
                        "_", *[F.col("signature")[i * r + j] for j in range(r)]
                    )
                ).alias("bkey"),
            )
            for i in range(bands)
        ]
    )
    return sigs.withColumn("b", F.explode(band_structs)).select(
        F.col(id_col), F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    n_hashes: int = 32,
    bands: int = 8,
    n: int = DEFAULT_SHINGLE_N,
    max_chars: int = 512,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact Jaccard.

    1. signatures (narrow) → 2. band keys: hash of each r-row slice,
    exploded to (band_idx, band_key, id) → 3. self-join per bucket →
    candidate pairs (the ONLY shuffle-heavy step, and it is linear in
    docs × bands, not quadratic in docs) → 4. exact-Jaccard
    verification on the candidates only.

    Shape note (r17 optimization round): an alternative that carries
    the signature + band-key array through the bucket join (deduping
    by first-collision-band instead of ``distinct()``, est-j inside
    the join — 4 fewer exchanges) was implemented and MEASURED
    SLOWER at scale: 67.8–78.6 s vs 33.6–40.3 s at the 100x probe
    (500 k docs), tie at sf0.1. Two structural reasons, recorded so
    it is not re-tried: (a) the banded shuffle is docs×bands rows —
    widening each from ~80 B to ~600 B dominates every byte saved on
    the pair side; (b) a TRUE near-dup pair at j≥0.9 collides in
    ~b·j^r ≈ 5–6 of 8 bands, so the early ``distinct()`` collapses
    ~6x band multiplicity BEFORE the signature joins — removing it
    makes the downstream joins process that multiplicity instead.
    The thin-banding shape below is the scale-correct one.
    Output (id_a, id_b, jaccard) has precision 1.0 w.r.t. the
    threshold; recall is the standard banding S-curve
    ``1 - (1 - j^r)^b``. Defaults (32 hashes, 8 bands × 4 rows) give
    recall ≥ 1 − 2e−5 at j ≥ 0.93 and were verified set-equal to the
    exact pair set on the test corpora; raise ``n_hashes``/``bands``
    for lower thresholds.

    ``max_bucket_size`` (new r11) is the HOT-BUCKET guard: "linear in
    docs × bands" describes bucket EMISSION — the self-join then emits
    |bucket|² candidates per key, so one boilerplate cluster of B
    near-identical docs costs B² pairs in a single task (the current
    sf0.1 corpus already carries a 115-doc band bucket ≈ 13 k
    candidates from one key; at web scale B is millions). With a cap,
    buckets above it are EXCLUDED from candidate generation: one
    count aggregate + a semi-join on the same (band, bkey) key as the
    self-join (AQE reuses the exchange). Precision stays 1.0
    (survivors are still exact-verified). Recall: a pair is missed
    only if EVERY bucket it shares is over-cap — by construction
    that's the giant near-identical cluster, exactly the content a
    pipeline should route through the exact-dedup/line-dedup tiers
    (hash-groupBy handles verbatim copies at any scale) rather than
    pairwise LSH. None (default) preserves the uncapped parity
    semantics.
    """
    _require_band_geometry(n_hashes, bands)
    if max_bucket_size is not None and max_bucket_size < 2:
        raise ValueError(
            f"max_bucket_size must be ≥ 2 (a pair needs both members "
            f"in the bucket), got {max_bucket_size}"
        )
    r = n_hashes // bands
    # Small-file inputs arrive as a handful of partitions; the per-doc
    # shingle+md5 work is embarrassingly parallel, so fan it out to the
    # cluster's parallelism before the narrow pipeline.
    para = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < para:
        df = df.repartition(para)
    # One shingle scan shared by signatures AND exact verification;
    # signatures persisted separately: consumed by banding and by the
    # signature-estimate prefilter. Without these persists the
    # md5-over-every-shingle pipeline recomputes once per consumer
    # (AQE's exchange reuse does not canonicalize the two bucket-join
    # sides here — measured r17). track_persist registers the frames
    # so caching.release_cached() (called at query entry and by the
    # harnesses) drops them once the consuming action is done — no
    # session-lifetime storage leak.
    sh = track_persist(with_shingles(df, text_col, id_col, n, max_chars))
    sigs = track_persist(_signatures_from_shingles(sh, id_col, n_hashes, seed))

    buckets = band_buckets(sigs, id_col, bands, r)
    if max_bucket_size is not None:
        under_cap = (
            buckets.groupBy("band", "bkey")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= F.lit(int(max_bucket_size)))
            .drop("_bn")
        )
        # persisted: the self-join consumes the capped frame twice, and
        # without the persist each side would re-run the count+semi
        buckets = track_persist(
            buckets.join(under_cap, ["band", "bkey"], "left_semi")
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
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )

    # Prefilter: estimated Jaccard = fraction of agreeing signature
    # elements. Cheap int comparisons on 64-wide arrays vs the exact
    # array_intersect on hundreds of shingles — on high-collision
    # corpora (many bucket hits at true j≈0.5) this is the difference
    # between verifying ~100× the survivors and verifying everything.
    # Margin: est-j sampling std at n=64 is ≈0.06, so a 0.15 slack
    # below the target threshold keeps recall ~1 (>2.5σ).
    est_threshold = max(threshold - 0.15, 0.0)
    sig_a = sigs.select(
        F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a")
    )
    sig_b = sigs.select(
        F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b")
    )
    prefiltered = (
        candidates.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn(
            "est_j",
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda v: v,
                )
            )
            / F.lit(n_hashes),
        )
        .filter(F.col("est_j") >= est_threshold)
        .select("id_a", "id_b")
    )

    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        prefiltered.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            round_half_away(
                F.col("n_inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    **lsh_kwargs,
) -> DataFrame:
    """Near-dup CLUSTERS: LSH pairs → connected components → one
    representative (min id) per cluster — the actual dedup decision a
    corpus pipeline applies (`keep = doc_id == cluster_rep`).

    Returns (doc_id, cluster_rep) for EVERY document; docs with no
    near-duplicate are their own representative.
    """
    from .graph import connected_components

    pairs = minhash_lsh_pairs(df, text_col, id_col, threshold, **lsh_kwargs)
    nodes = df.select(F.col(id_col).alias("node"))
    comp = connected_components(
        nodes, pairs.select("id_a", "id_b"), "node", "id_a", "id_b"
    )
    return comp.select(
        F.col("node").alias(id_col), F.col("component").alias("cluster_rep")
    )


def dedup_best_reps(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    scores: DataFrame | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """Quality-aware dedup manifest (new r9): one row per near-dup
    cluster naming the member a pipeline should KEEP — the
    highest-quality copy, not the min-id one. :func:`dedup_clusters`'
    min-id representative is arbitrary; production dedup keeps the
    best version of a duplicated page (quality-ranked, e.g. the copy
    without boilerplate truncation), so the manifest ranks members by
    (:func:`~..operators.text.quality_classifier_score` DESC, id ASC)
    — a total order, since the score is already rounded to 6 dp.

    Scale shape: the cluster labels and per-doc scores are both
    id-keyed corpus-sized frames — one equi-join on id, then one
    cluster-keyed aggregate whose ``max_by`` carries an 8-byte id +
    double per row (no text moves). Returns
    ``(cluster_id, best_doc_id, best_score, n_members)`` for every
    cluster including singletons.

    ``scores``: optional precomputed ``(id, quality_score)`` frame —
    a pipeline that already ran the classifier for its own quality
    gate passes it here instead of paying the full per-document
    scoring scan a second time (operators/pipeline.py does).
    """
    from .text import quality_classifier_score

    clusters = dedup_clusters(df, text_col, id_col, threshold, **lsh_kwargs)
    if scores is None:
        scores = quality_classifier_score(df, text_col, id_col)
    scores = scores.select(F.col(id_col), F.col("quality_score"))
    j = clusters.join(scores, id_col)
    return j.groupBy(F.col("cluster_rep").alias("cluster_id")).agg(
        F.max_by(
            F.col(id_col),
            F.struct(F.col("quality_score"), (-F.col(id_col)).alias("_nid")),
        ).alias("best_doc_id"),
        F.max("quality_score").alias("best_score"),
        F.count(F.lit(1)).alias("n_members"),
    )


def simhash_expr(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash fingerprint of a text as a ``bits``-wide long.

    Token multiset → md5-based 60-bit token hashes → per-bit majority
    vote. Entirely higher-order functions: the token-hash array is
    materialized once per row, then each bit is a filtered count.
    """
    toks = token_array(text)
    hs = F.transform(toks, md5_int)
    n = F.size(toks)
    pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])

    # Single pass over the hash array. The earlier formulation (`bits`
    # separate size(filter(hs, ...)) terms) re-evaluated the md5
    # transform once PER BIT — Catalyst does not CSE a subexpression
    # across sibling higher-order lambdas — turning O(tokens) md5 calls
    # into O(tokens × bits): measured 20 s for the documents table at
    # sf0.1. Here `hs` appears exactly once, so each token is hashed
    # once; the per-bit work inside the fold touches only the already-
    # computed long (one AND + one add per bit).
    def _fold(acc, h):
        return F.zip_with(
            acc,
            pow2,
            lambda c, m: c + F.when(h.bitwiseAND(m) != 0, 1).otherwise(0),
        )

    counts = F.aggregate(hs, F.array_repeat(F.lit(0), bits), _fold)
    voted = F.zip_with(
        counts,
        pow2,
        lambda c, m: F.when(c * 2 > n, m).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(voted, F.lit(0).cast("long"), lambda a, x: a + x)


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, simhash) — same fingerprint as :func:`simhash_expr`, but
    computed via explode + 60 conditional COUNT aggregates instead of a
    higher-order fold.

    Why not just ``select(simhash_expr(text))``: higher-order array
    lambdas are interpreted (never whole-stage-codegen'd), and the
    per-token ``zip_with`` accumulator allocates a 60-element array per
    token — measured ~10 s for 270k tokens at sf0.1 on one core. The
    explode/agg formulation keeps every per-token op inside codegen
    (one AND + one branch per bit) and partial-aggregates map-side, so
    the shuffle carries one 61-column row per document regardless of
    document length — measured ~0.4 s on the same input, and the shape
    holds at 100 TB (shuffle volume is O(docs), not O(tokens)).

    Docs whose text yields zero tokens keep fingerprint 0 (explode_outer
    + count of non-null hashes), matching the fold semantics.

    Two further Catalyst-cost reductions (plan BUILD time, not just
    run time — the naive 60-agg + 60-term-vote tree cost ~1.3 s of
    pure analysis/optimization per invocation):

    * the 60 per-bit counters are packed 3-per-long into 20 SUM
      aggregates with 20-bit fields; each group's map-side term is a
      single ``(h >> g) & 0x10000100001`` — one shift + one AND picks
      up bits g, g+20, g+40 simultaneously. Safe while every document
      has < 2^20 tokens (guarded with raise_error below).
    * the majority vote unpacks via ONE ``zip_with`` lambda over the
      20-element packed array instead of 60 column-referencing
      ``when`` terms: vote_g = 2^g · Σ_slot [c_slot·2 > n]·2^(20·slot)
      reconstructs each bit at its original position. The lambda runs
      interpreted, but only once per DOCUMENT (5k rows), not per
      token. Measured: plan build 1.28 s → 0.38 s, end-to-end
      1.9 s → 0.9 s at sf0.1, bit-identical fingerprints.
    """
    para = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < para:
        # Small-file inputs arrive as 1-2 partitions; the md5+explode
        # map work is embarrassingly parallel. At real scale the input
        # has >= para splits and this is a no-op.
        df = df.repartition(para)
    hashes = df.select(
        F.col(id_col),
        F.explode_outer(
            F.transform(token_array(F.col(text_col)), md5_int)
        ).alias("_h"),
    )
    FIELD = 20  # bits per packed counter; 3 counters per long
    n_groups = SIMHASH_BITS // 3  # 20
    mask3 = 1 | (1 << FIELD) | (1 << 2 * FIELD)
    m1 = F.lit((1 << FIELD) - 1).cast("long")
    aggs = [F.count("_h").alias("_n")] + [
        F.sum(
            F.shiftright(F.col("_h"), g).bitwiseAND(F.lit(mask3).cast("long"))
        ).alias(f"_p{g}")
        for g in range(n_groups)
    ]
    counts = hashes.groupBy(id_col).agg(*aggs)

    packed = F.array(*[F.col(f"_p{g}") for g in range(n_groups)])
    pow2 = F.array(*[F.lit(1 << g).cast("long") for g in range(n_groups)])
    n = F.col("_n")
    zero = F.lit(0).cast("long")

    def _vote(p: Column, m: Column) -> Column:
        c0 = p.bitwiseAND(m1)
        c1 = F.shiftright(p, FIELD).bitwiseAND(m1)
        c2 = F.shiftright(p, 2 * FIELD).bitwiseAND(m1)
        s = (
            F.when(c0 * 2 > n, F.lit(1).cast("long")).otherwise(zero)
            + F.when(c1 * 2 > n, F.lit(1 << FIELD).cast("long")).otherwise(zero)
            + F.when(c2 * 2 > n, F.lit(1 << 2 * FIELD).cast("long")).otherwise(zero)
        )
        return m * s

    fp = F.aggregate(F.zip_with(packed, pow2, _vote), zero, lambda a, x: a + x)
    guarded = F.when(
        n >= F.lit(1 << FIELD).cast("long"),
        F.raise_error(
            F.lit(
                "simhash_fingerprints: document exceeds 2^20 tokens; "
                "packed per-bit counters would overflow"
            )
        ).cast("long"),
    ).otherwise(fp)
    return counts.select(F.col(id_col), guarded.alias("simhash"))


def simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, EXACTLY.

    The fingerprint is split into ``SIMHASH_BLOCKS`` blocks; pairs
    within hamming ≤ blocks−1 must share ≥1 identical block
    (pigeonhole), so an equi-join per block finds every such pair —
    no quadratic scan, recall 1.0. Requires ``max_hamming <
    SIMHASH_BLOCKS`` (default 3 < 4).
    """
    if max_hamming >= SIMHASH_BLOCKS:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole bound: "
            f"must be < SIMHASH_BLOCKS={SIMHASH_BLOCKS} or recall "
            "drops below 1.0"
        )
    block_bits = SIMHASH_BITS // SIMHASH_BLOCKS
    para = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < para:
        df = df.repartition(para)
    # persist: both sides of the block join consume the fingerprints —
    # without it the 60-bit expression tree recomputes per side
    # (tracked → released by caching.release_cached() post-action)
    fp = track_persist(simhash_fingerprints(df, text_col, id_col))

    blocks = fp.withColumn(
        "blk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk_idx"),
                        F.shiftright(F.col("simhash"), i * block_bits)
                        .bitwiseAND(F.lit((1 << block_bits) - 1))
                        .alias("blk_val"),
                    )
                    for i in range(SIMHASH_BLOCKS)
                ]
            )
        ),
    ).select(
        F.col(id_col),
        F.col("simhash"),
        F.col("blk.blk_idx").alias("blk_idx"),
        F.col("blk.blk_val").alias("blk_val"),
    )
    a = blocks.alias("a")
    b = blocks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk_idx") == F.col("b.blk_idx"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


#: Winnowing defaults (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
#: local document fingerprinting algorithm): k = noise threshold (no
#: match shorter than k chars is detected), window w gives guarantee
#: threshold t = k + w − 1 (every common substring ≥ t chars shares at
#: least one selected fingerprint).
WINNOW_K = 8
WINNOW_W = 4


def minhash_estimate_check(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_pairs: int = 50,
    n_hashes: int = 128,
    bound: float = 0.2,
    n: int = DEFAULT_SHINGLE_N,
    max_chars: int = 512,
    seed: int = 42,
) -> DataFrame:
    """MinHash ESTIMATOR accuracy gate: for ``n_pairs`` deterministic
    document pairs (ids 2i ↔ 2i+1), compare the signature-agreement
    Jaccard estimate against the exact shingle-set Jaccard and emit
    ``(id_a, id_b, exact_jaccard, within_bound)`` with
    ``within_bound = |estimate − exact| ≤ bound``.

    Same design rule as the HLL and CMS gates: the estimate itself is
    engine-specific and stays out of the output; the CONTRACT — the
    estimator's error envelope — is a column a SQL oracle can verify
    by recomputing exact Jaccard for the same pairs and asserting the
    boolean. With 128 hashes the estimator's σ is at most
    0.5/√128 ≈ 0.044, so ``bound=0.2`` is ≈ 4.5σ — deterministic in
    practice (signatures are seeded), failing only on a genuine
    signature/permutation bug, which shifts estimates by whole bands,
    not fractions of σ.

    Scale shape: the pair set is a parameter (n_pairs rows); shingling
    and signatures are narrow per-row work on 2·n_pairs docs — a
    calibration/audit query, O(pairs), never O(corpus²).
    """
    base = df.filter(F.col(id_col) < 2 * n_pairs)
    sh = with_shingles(base, text_col, id_col, n, max_chars)
    sigs = _signatures_from_shingles(sh, id_col, n_hashes, seed)
    both = sh.join(sigs, id_col)

    a = both.select(
        (F.col(id_col) / 2).cast("long").alias("_pair"),
        F.col(id_col).alias("id_a"),
        F.col("shingles").alias("_sha"),
        F.col("signature").alias("_siga"),
    ).filter(F.col("id_a") % 2 == 0)
    b = both.select(
        (F.col(id_col) / 2).cast("long").alias("_pair"),
        F.col(id_col).alias("id_b"),
        F.col("shingles").alias("_shb"),
        F.col("signature").alias("_sigb"),
    ).filter(F.col("id_b") % 2 == 1)

    n_inter = F.size(F.array_intersect("_sha", "_shb"))
    n_union = F.size(F.array_union("_sha", "_shb"))
    exact = n_inter / F.greatest(n_union, F.lit(1))
    est = F.size(
        F.filter(
            F.zip_with("_siga", "_sigb", lambda x, y: x == y), lambda eq: eq
        )
    ) / F.lit(float(n_hashes))
    return (
        a.join(b, "_pair")
        .select(
            "id_a",
            "id_b",
            round_half_away(exact, 6).alias("exact_jaccard"),
            (F.abs(est - exact) <= bound).alias("within_bound"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_chars: int = 512,
) -> DataFrame:
    """Winnowed rolling-hash document fingerprints: hash every k-gram
    of the (truncated) text, slide a w-wide window over the hash
    sequence, keep each window's MINIMUM — the density-guaranteed
    subset (expected fraction 2/(w+1)) that still catches every
    substring match of length ≥ k+w−1. Position-independent output
    (one row per distinct selected hash), so reordered/shifted copies
    of a passage still collide.

    Scale shape: pure per-row higher-order expressions (two chained
    lambda bindings — text→hash array→window minima — each evaluated
    once per row), then one explode; no shuffle in the operator
    itself. md5-based rolling hashes keep the oracle bit-identical.

    Documents shorter than ``k`` chars contribute the hash of their
    whole text (the ``greatest(…, 1)`` guards make the k-gram and
    window sequences degenerate to a single element, identically in
    both engines).
    """
    t = F.substring(F.col(text_col), 1, max_chars)

    def over_text(tc: Column) -> Column:
        def kgram_hash(i: Column) -> Column:
            return md5_int(F.substring(tc, i, k))

        return F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.length(tc) - F.lit(k - 1), F.lit(1))
            ),
            kgram_hash,
        )

    hashes = F.element_at(
        F.transform(F.array(t), over_text), 1
    )

    def over_hashes(hs: Column) -> Column:
        def window_min(j: Column) -> Column:
            return F.array_min(F.slice(hs, j, w))

        return F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(hs) - F.lit(w - 1), F.lit(1))
                ),
                window_min,
            )
        )

    fps = F.element_at(F.transform(F.array(hashes), over_hashes), 1)
    return df.select(
        F.col(id_col), F.explode(fps).alias("fingerprint")
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_shared: int = 3,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_chars: int = 512,
    max_fp_df: int | None = None,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowed fingerprints —
    the MOSS-style local-plagiarism/near-copy detector: unlike MinHash
    (whole-document resemblance) this catches documents that share a
    PASSAGE while differing elsewhere.

    Inverted-index join on the fingerprint key (the same candidate
    shape as ``ngram_jaccard_pairs``): pair work is O(Σ df²) over
    fingerprint document frequencies, so ``max_fp_df`` optionally
    drops ubiquitous fingerprints (boilerplate k-grams) exactly like
    a stopword cut — at corpus scale cap it to keep the join linear;
    dropped fingerprints can only reduce the shared count, never
    invent a pair.
    """
    fps = winnow_fingerprints(df, text_col, id_col, k, w, max_chars)
    if max_fp_df is not None:
        rare = (
            fps.groupBy("fingerprint")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_fp_df)
            .select("fingerprint")
        )
        fps = fps.join(rare, "fingerprint")
    a = fps.select(F.col(id_col).alias("id_a"), "fingerprint")
    b = fps.select(F.col(id_col).alias("id_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


def incremental_dedup(
    corpus: DataFrame,
    incoming: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.9,
    **lsh_kwargs,
) -> DataFrame:
    """Incremental-ingest dedup — the daily-crawl shape: classify each
    INCOMING document against an existing CORPUS as

    * ``dup_exact`` — its normalized-content sha256 already exists in
      the corpus (byte-identical after whitespace/case normalization),
    * ``dup_near``  — a MinHash-LSH-verified near-duplicate (exact
      shingle Jaccard ≥ ``threshold``) of some corpus document,
    * ``new``       — neither; safe to append.

    Exact beats near in precedence; incoming↔incoming duplication is
    deliberately NOT considered (the question is membership against
    the corpus — run :func:`dedup_exact_content` / the LSH clusterer
    on the survivors afterwards). Caller contract: disjoint id spaces.

    Scale shape: the exact stage is one fingerprint scan per side plus
    a semi-join on the 32-byte hash. The near stage reuses the banded
    LSH pipeline over corpus ∪ incoming (candidates linear in
    docs × bands), then keeps only CROSS pairs via id-set semi-joins.
    The production form that persists the corpus's signatures and
    fingerprints between ingests — so each increment recomputes only
    the incoming side — is :func:`build_dedup_index` +
    :func:`incremental_dedup_indexed` (pytest-pinned decision-equal to
    this self-contained form); the join geometry — the part that must
    survive 100 TB — is identical in both.
    """
    from .text import fingerprints

    corpus_fp = fingerprints(corpus, text_col, id_col).select("sha256_fp")
    inc_fp = fingerprints(incoming, text_col, id_col)
    exact_ids = inc_fp.join(corpus_fp, "sha256_fp", "left_semi").select(
        F.col(id_col)
    )

    both = corpus.select(id_col, text_col).unionByName(
        incoming.select(id_col, text_col)
    )
    pairs = minhash_lsh_pairs(
        both, text_col, id_col, threshold, **lsh_kwargs
    )
    corpus_ids = corpus.select(F.col(id_col).alias("_cid"))
    near_ids = (
        pairs.join(corpus_ids, pairs["id_a"] == F.col("_cid"), "left_semi")
        .select(F.col("id_b").alias(id_col))
        .unionByName(
            pairs.join(
                corpus_ids, pairs["id_b"] == F.col("_cid"), "left_semi"
            ).select(F.col("id_a").alias(id_col))
        )
        .distinct()
    )

    return (
        incoming.select(id_col)
        .join(exact_ids.withColumn("_e", F.lit(1)), id_col, "left")
        .join(
            near_ids.join(
                incoming.select(id_col), id_col, "left_semi"
            ).withColumn("_n", F.lit(1)),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.when(F.col("_e") == 1, F.lit("dup_exact"))
            .when(F.col("_n") == 1, F.lit("dup_near"))
            .otherwise(F.lit("new"))
            .alias("decision"),
        )
    )


def build_dedup_index(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    n_hashes: int = 32,
    bands: int = 8,
    n: int = DEFAULT_SHINGLE_N,
    max_chars: int = 512,
    seed: int = 42,
) -> None:
    """FIT side of the production incremental-dedup lifecycle (VERDICT
    r5 item 5; same fit-once-persist pattern as the IVF quantizer,
    similarity.kmeans_fit_or_load): persist the corpus-derived dedup
    state — content sha256 fingerprints and MinHash signatures — as
    parquet tables under ``index_path``, keyed by corpus version by
    the caller. Each nightly ingest then runs
    :func:`incremental_dedup_indexed`, which recomputes ONLY the
    incoming side; after admitting survivors, append their
    fingerprints/signatures to the index (same schemas) instead of
    refitting the corpus.

    A ``meta`` table records the LSH geometry (n_hashes/bands/shingle
    n/max_chars/seed): banding is only meaningful when both sides use
    identical parameters, so the serve path validates against it and
    refuses a mismatched index rather than silently missing every
    near-dup.
    """
    _require_band_geometry(n_hashes, bands)
    from .text import fingerprints

    fingerprints(corpus, text_col, id_col).select(
        id_col, "sha256_fp"
    ).write.mode("overwrite").parquet(f"{index_path}/fingerprints")
    minhash_signatures(
        corpus, text_col, id_col, n_hashes, n, max_chars, seed
    ).write.mode("overwrite").parquet(f"{index_path}/signatures")
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(n_hashes, bands, n, max_chars, seed)],
        "n_hashes int, bands int, shingle_n int, max_chars int, seed int",
    ).write.mode("overwrite").parquet(f"{index_path}/meta")


def append_to_dedup_index(
    admitted: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
) -> None:
    """Fold an ingest's ADMITTED survivors into the persisted dedup
    index — the step that keeps the index current without refitting
    the corpus: append-write their fingerprints and signatures (same
    schemas, same LSH geometry read from the index's meta table, so an
    append can never band differently from the build). Work is
    proportional to the admitted batch; parquet append adds files, it
    rewrites nothing. Compact with the corpus's periodic maintenance
    pass like any streaming sink (operators/maintenance.py).

    READ-WRITE HAZARD (the reason ``admitted`` must be MATERIALIZED
    first): a lazy frame derived from this same index — e.g.
    ``incoming ⋈ decisions.filter('new')`` where decisions came from
    :func:`incremental_dedup_indexed` — re-reads the index on every
    execution, and after this append every just-admitted doc matches
    its own newly-appended fingerprint, silently collapsing the frame
    to empty. Write the admitted docs to the corpus store (or collect
    their ids) BEFORE calling this; in a real pipeline that ordering
    is forced anyway — you append index state for documents that are
    durably in the corpus, never for an unmaterialized plan."""
    from .text import fingerprints

    spark = admitted.sparkSession
    meta = spark.read.parquet(f"{index_path}/meta").head()
    fingerprints(admitted, text_col, id_col).select(
        id_col, "sha256_fp"
    ).write.mode("append").parquet(f"{index_path}/fingerprints")
    minhash_signatures(
        admitted,
        text_col,
        id_col,
        meta.n_hashes,
        meta.shingle_n,
        meta.max_chars,
        meta.seed,
    ).write.mode("append").parquet(f"{index_path}/signatures")


def incremental_dedup_indexed(
    index_path: str,
    corpus: DataFrame,
    incoming: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.9,
    n_hashes: int = 32,
    bands: int = 8,
    n: int = DEFAULT_SHINGLE_N,
    max_chars: int = 512,
    seed: int = 42,
) -> DataFrame:
    """SERVE side of production incremental dedup: classify incoming
    docs as dup_exact / dup_near / new against a PERSISTED corpus
    index (:func:`build_dedup_index`) — decision-equal to the
    self-contained :func:`incremental_dedup` (pytest-pinned), but the
    per-ingest work now scales with the INCOMING side:

    * exact tier — incoming fingerprints (narrow) semi-joined against
      the persisted fingerprint table; the corpus text is never read.
    * near tier — incoming signatures (narrow) banded with the SAME
      :func:`band_buckets` expression as the persisted signatures;
      the candidate join is corpus-buckets ⋈ incoming-buckets on
      (band, bkey), so only CROSS pairs are ever generated (the union
      form also generates corpus↔corpus candidates just to discard
      them). Signature-estimate prefilter uses the persisted arrays.
    * exact-Jaccard verification — needs shingle sets, which the index
      deliberately does NOT store (they are text-sized; the index
      stays 32 longs + 32 bytes per doc). Candidate corpus docs are
      re-shingled by semi-joining the corpus table down to candidate
      ids first — work proportional to CANDIDATES, not corpus size,
      which is the sub-linear property the probe row pins.

    ``corpus`` here is the document STORE (read-pruned to candidate
    ids); all corpus-wide derived state comes from the index. The meta
    table must match the passed LSH geometry — a mismatch raises
    instead of silently banding incompatibly.
    """
    from .text import fingerprints

    spark = incoming.sparkSession
    meta = spark.read.parquet(f"{index_path}/meta").head()
    want = (n_hashes, bands, n, max_chars, seed)
    got = (meta.n_hashes, meta.bands, meta.shingle_n, meta.max_chars, meta.seed)
    if got != want:
        raise ValueError(
            f"dedup index at {index_path} was built with LSH geometry "
            f"{got}, serve path requested {want} — rebuild the index or "
            "match the parameters (mismatched banding silently loses "
            "every near-duplicate)"
        )
    _require_band_geometry(n_hashes, bands)
    r = n_hashes // bands

    para = incoming.sparkSession.sparkContext.defaultParallelism
    if incoming.rdd.getNumPartitions() < para:
        incoming = incoming.repartition(para)

    # REPLAY-BATCH EXCLUSION (both tiers): drop every index row whose
    # id appears in the INCOMING batch before matching. Without this,
    # a crash-REPLAYED ingest batch — whose admissions already reached
    # the index — would classify its own prior admissions as dups and
    # overwrite its corpus partition without them: silent data loss on
    # the exact code path streaming recovery exercises. A pairwise
    # `incoming.id != index.id` inequality is NOT enough: a replayed
    # batch holding two mutually-near-dup docs has each doc match its
    # SIBLING's index entry (different id), so both are rejected and
    # lost. Excluding by the whole incoming id-set is safe because ids
    # are unique corpus-wide by store contract — any index row sharing
    # an incoming id can only be a prior attempt of this same batch.
    # The incoming id frame is one narrow column per micro-batch —
    # bounded and tiny by construction — so both anti-joins carry an
    # EXPLICIT broadcast hint. inc_ids derives from a foreachBatch
    # micro-batch frame whose size Catalyst cannot always estimate;
    # without the hint, an AQE decline would shuffle the ENTIRE
    # fingerprint/signature index every micro-batch — the exact
    # corpus-side scaling the serve path is designed to avoid
    # (VERDICT r8 wrong #3).
    inc_ids = incoming.select(id_col).distinct()
    corpus_fp = (
        spark.read.parquet(f"{index_path}/fingerprints")
        .join(F.broadcast(inc_ids), id_col, "left_anti")
        .select(F.col(id_col).alias("_idx_id"), "sha256_fp")
    )
    inc_fp = fingerprints(incoming, text_col, id_col)
    exact_ids = (
        inc_fp.join(
            corpus_fp,
            inc_fp["sha256_fp"] == corpus_fp["sha256_fp"],
            "left_semi",
        ).select(F.col(id_col))
    )

    corpus_sigs = spark.read.parquet(f"{index_path}/signatures").join(
        F.broadcast(inc_ids), id_col, "left_anti"
    )
    inc_sh = track_persist(
        with_shingles(incoming, text_col, id_col, n, max_chars)
    )
    inc_sigs = track_persist(
        _signatures_from_shingles(inc_sh, id_col, n_hashes, seed)
    )

    cand = (
        band_buckets(corpus_sigs, id_col, bands, r)
        .select(F.col(id_col).alias("id_a"), "band", "bkey")
        .join(
            band_buckets(inc_sigs, id_col, bands, r).select(
                F.col(id_col).alias("id_b"), "band", "bkey"
            ),
            ["band", "bkey"],
        )
        # no id_a != id_b filter needed: the replay-batch exclusion
        # above already removed every index row with an incoming id
        .select("id_a", "id_b")
        .distinct()
    )

    est_threshold = max(threshold - 0.15, 0.0)
    prefiltered = (
        cand.join(
            corpus_sigs.select(
                F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a")
            ),
            "id_a",
        )
        .join(
            inc_sigs.select(
                F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b")
            ),
            "id_b",
        )
        .withColumn(
            "est_j",
            F.size(
                F.filter(
                    F.zip_with(
                        "sig_a", "sig_b", lambda x, y: (x == y).cast("int")
                    ),
                    lambda v: v == 1,
                )
            )
            / F.lit(n_hashes),
        )
        .filter(F.col("est_j") >= est_threshold)
        .select("id_a", "id_b")
    )

    # re-shingle ONLY candidate-touched corpus docs: prune the store
    # to candidate ids before the (text-sized) shingle expression runs
    cand_corpus = corpus.join(
        prefiltered.select(F.col("id_a").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    sh_a = with_shingles(cand_corpus, text_col, id_col, n, max_chars).select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")
    )
    sh_b = inc_sh.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")
    )
    near_ids = (
        prefiltered.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            round_half_away(
                F.col("n_inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )

    return (
        incoming.select(id_col)
        .join(exact_ids.withColumn("_e", F.lit(1)), id_col, "left")
        .join(near_ids.withColumn("_n", F.lit(1)), id_col, "left")
        .select(
            id_col,
            F.when(F.col("_e") == 1, F.lit("dup_exact"))
            .when(F.col("_n") == 1, F.lit("dup_near"))
            .otherwise(F.lit("new"))
            .alias("decision"),
        )
    )


def admit_new_documents(
    stream_docs: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """STREAMING admission filter — the real-time face of
    :func:`incremental_dedup`'s exact tier: pass through only incoming
    documents whose normalized-content sha256 is NOT already in the
    corpus. Works identically on a streaming or batch ``stream_docs``
    frame (pure narrow fingerprint expression + a stream-static
    LEFT ANTI join against the corpus fingerprint set), so the batch
    form IS the streaming oracle.

    Scale shape: the corpus side reduces to its distinct 32-byte
    fingerprint column — at ingest time that set is what you persist
    and broadcast/shuffle, never the corpus text; per micro-batch the
    work is one hash pass over arriving docs plus the anti-join. The
    near-dup tier stays a batch concern (LSH banding needs the full
    signature index; run :func:`incremental_dedup` on admitted docs in
    the compaction pass).
    """
    from .text import content_sha256, fingerprints

    corpus_fp = (
        fingerprints(corpus, text_col, id_col)
        .select("sha256_fp")
        .distinct()
    )
    # same shared normalization expression as fingerprints() — the two
    # sides of this anti-join must never diverge (text.content_norm)
    with_fp = stream_docs.withColumn(
        "sha256_fp", content_sha256(F.col(text_col))
    )
    return with_fp.join(corpus_fp, "sha256_fp", "left_anti").drop(
        "sha256_fp"
    )


# ---------------------------------------------------------------------------
# Substring-level (span) dedup — the Lee et al. 2022 tier
# ---------------------------------------------------------------------------

#: Span-dedup shingle width in TOKENS. Lee et al. ("Deduplicating
#: Training Data Makes Language Models Better", 2022) use a 50-token
#: threshold on real corpora; the synthetic test corpus has ~40-token
#: documents, so the library default is sized to it. Callers tune it.
DEFAULT_SPAN_TOKENS = 8


def _token_shingle_positions(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, start, shash): one md5 key per k-token shingle at every
    1-based start position of the normalized token stream
    (:func:`token_array` — the stream training pipelines dedup on).
    Narrow per-row work: the shingle loop is a higher-order transform,
    the only explode fans out to one row per position. Tokens are
    joined with US (0x1f, outside the token alphabet), so shingle keys
    are unambiguous."""
    toks = df.select(
        F.col(id_col), token_array(F.col(text_col)).alias("_toks")
    ).filter(F.size("_toks") >= k)
    return toks.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - (k - 1)),
                lambda i: F.struct(
                    i.cast("long").alias("start"),
                    F.md5(F.concat_ws("\x1f", F.slice("_toks", i, k))).alias(
                        "shash"
                    ),
                ),
            )
        ).alias("_s"),
    ).select(id_col, F.col("_s.start").alias("start"), F.col("_s.shash").alias("shash"))


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = DEFAULT_SPAN_TOKENS,
    min_occurrences: int = 2,
) -> DataFrame:
    """Substring-level exact span dedup (Lee et al. 2022): find every
    maximal span of ≥ ``k`` tokens whose content repeats anywhere in
    the corpus — including across line boundaries and inside otherwise
    unique documents, the tier document-level and line-level dedup
    both miss (a boilerplate paragraph pasted mid-document).

    Three-stage plan, each stage the scale-correct shape:

    1. **Shingle**: one row per k-token window (narrow transform +
       explode; work O(tokens), key 16-byte md5 — never the text).
    2. **Duplicate keys**: ``groupBy(shash).count() >=
       min_occurrences``. Partial aggregation combines map-side, so
       the shuffle carries one row per DISTINCT shingle per map
       partition — shuffle volume tracks distinct shingles, not
       corpus tokens (the scale-probe contract). A shingle repeated
       within ONE document counts too (self-repetition is a dup).
    3. **Island merge**: positions whose shingle is duplicated are
       semi-joined back (AQE handles heavy-hitter skew; after the
       HAVING filter the duplicate-key side is usually the small one),
       then adjacent positions merge into maximal spans per document
       via the island trick — ``start - row_number()`` is constant
       within a run of consecutive starts. The window partitions by
       document (bounded by document length — no global window).

    Adjacent duplicated shingles merge even when their repeats point
    at different other documents — the standard over-approximation:
    the merged span is still wholly covered by duplicated k-grams.

    Returns ``(id, span_start, span_end, span_tokens)`` — 1-based
    inclusive TOKEN positions in the normalized token stream, one row
    per maximal duplicated span.
    """
    from pyspark.sql import Window

    # Persisted: BOTH consumers below (the duplicate-key aggregate and
    # the position semi-join probe) read this frame — without the
    # persist each side re-ran the tokenize+explode+md5 scan, i.e. the
    # whole corpus was read and every k-gram hashed TWICE (measured
    # 2.3-3.1 s at sf0.1, ~half of it the second scan; guide §5:
    # recompute cost ≫ storage pressure — the frame is (id, start,
    # 16-byte hash), never the text). track_persist registers it for
    # release_cached() so harnesses drop it after the consuming action.
    sh = track_persist(_token_shingle_positions(df, text_col, id_col, k))
    dup_keys = (
        sh.groupBy("shash")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_occurrences)
        .select("shash")
    )
    dup_pos = sh.join(dup_keys, "shash", "left_semi")
    w = Window.partitionBy(id_col).orderBy("start")
    return (
        dup_pos.withColumn("_isl", F.col("start") - F.row_number().over(w))
        .groupBy(id_col, "_isl")
        .agg(
            F.min("start").alias("span_start"),
            (F.max("start") + F.lit(k - 1)).cast("long").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def strip_duplicated_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Companion CLEANER for :func:`duplicated_spans`: rebuild each
    document's normalized token stream with every flagged span removed
    (removal policy: ALL occurrences — the conservative variant; the
    keep-one-occurrence variant needs a global canonical-occurrence
    election and is deliberately not this operator). Output text is
    the surviving tokens space-joined — i.e. the NORMALIZED stream
    (lowercased, punctuation stripped), the representation training
    pipelines tokenize anyway.

    Shape: spans collapse to one array per document (tiny — spans per
    doc, not tokens), broadcast-friendly join back to the corpus, then
    a narrow per-row filter of positions against the span list. Work
    is O(tokens × spans-per-doc) per document, all inside codegen; the
    corpus shuffles only if the optimizer declines the broadcast.

    Returns ``(id, clean_text, tokens_kept)``.
    """
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = df.select(
        F.col(id_col), token_array(F.col(text_col)).alias("_toks")
    )
    joined = toks.join(sp, id_col, "left")
    spans_arr = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<span_start:long,span_end:long>>"),
    )

    def _keep(span_list):
        # closure factory (PySpark lambda-arity rule: no default args)
        def check(pos):
            return ~F.exists(
                span_list,
                lambda s: (pos >= s["span_start"]) & (pos <= s["span_end"]),
            )

        return check

    kept = F.filter(
        F.sequence(F.lit(1), F.size("_toks")).cast("array<long>"),
        _keep(spans_arr),
    )

    return joined.select(
        F.col(id_col),
        F.array_join(
            F.transform(kept, lambda i: F.element_at("_toks", i.cast("int"))),
            " ",
        ).alias("clean_text"),
        F.size(kept).cast("long").alias("tokens_kept"),
    )
