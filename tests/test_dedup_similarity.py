"""Dedup + similarity operator tests: planted near-duplicates must be
found; LSH candidates must verify exactly; ANN recall sanity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from esgi_4iabd2_sparkstreaming_groupe13_spark.operators import dedup, similarity
from esgi_4iabd2_sparkstreaming_groupe13_spark.sources.batch import load_table


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest to hide from all the hunters"
    )
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("quick", "swift")),  # near dup of 0
        (3, "completely different content about spark query engines"),
        (4, "another unrelated short text with its own words entirely"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact_keeps_min_id(docs):
    out = dedup.dedup_exact(docs, ["text"], "doc_id")
    ids = {r["doc_id"] for r in out.collect()}
    assert 0 in ids and 1 not in ids
    assert out.count() == 4


def test_ngram_jaccard_finds_planted_pairs(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got  # exact dup → jaccard 1.0
    assert (0, 2) in got and (1, 2) in got  # near dup
    assert not any(3 in p or 4 in p for p in got)


def test_minhash_lsh_matches_exact_pairs(docs):
    lsh = dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.8)
    exact = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.8)
    lsh_pairs = {(r["id_a"], r["id_b"], r["jaccard"]) for r in lsh.collect()}
    exact_pairs = {(r["id_a"], r["id_b"], r["jaccard"]) for r in exact.collect()}
    assert lsh_pairs == exact_pairs  # full recall on planted dups


def test_simhash_identical_for_dup_and_close_for_neardup(docs):
    fp = {r["doc_id"]: r["simhash"] for r in
          dedup.simhash_fingerprints(docs, "text", "doc_id").collect()}
    assert fp[0] == fp[1]
    ham_near = bin(fp[0] ^ fp[2]).count("1")
    ham_far = bin(fp[0] ^ fp[3]).count("1")
    assert ham_near < ham_far


def test_simhash_pairs_blocked_equals_bruteforce(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    blocked = dedup.simhash_pairs(docs, "text", "doc_id", max_hamming=3)
    fps = dedup.simhash_fingerprints(docs, "text", "doc_id")
    a = fps.selectExpr("doc_id AS id_a", "simhash AS fa")
    b = fps.selectExpr("doc_id AS id_b", "simhash AS fb")
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )
    assert {tuple(r) for r in blocked.collect()} == {
        tuple(r) for r in brute.collect()
    }


def test_brute_force_topk_self_excluded_and_ranked(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.brute_force_topk(emb, [0, 1], k=3).collect()
    assert len(out) == 6
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        cosines = [r["cosine"] for r in rows]
        assert cosines == sorted(cosines, reverse=True)


def test_ivf_topk_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_topk(emb, [0, 1, 2], k=5)
    approx = similarity.ivf_topk(emb, [0, 1, 2], k=5, centroid_stride=25, nprobe=8)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.4  # ANN trade: probing 8/20 cells on random data


def test_ann_recall_trained_quantizer_gate(spark, sf_dir):
    """The registry's ANN quality gate (q_ann_recall): trained
    spherical-k-means quantizer, k=8 cells, nprobe=4 — mean recall@5
    must clear 0.8 while scanning only ~half the corpus. Also pins
    the operator's shape: one row per query, recall in [0, 1]."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents, _, _ = similarity.kmeans_fit(emb, k=8, max_iterations=8)
    rows = similarity.ann_recall(
        emb, [0, 1, 2, 3, 4], k=5, nprobe=4, centroids=cents
    ).collect()
    assert len(rows) == 5
    assert all(0.0 <= r["recall_at_k"] <= 1.0 for r in rows)
    mean = sum(r["recall_at_k"] for r in rows) / len(rows)
    assert mean >= 0.8, [
        (r["query_id"], r["recall_at_k"]) for r in rows
    ]


def test_kmeans_fit_or_load_round_trip(spark, sf_dir, tmp_path):
    """Train/serve split (VERDICT r3 item 4): first call fits and
    persists the centroid table; second call LOADS it (no refit) and
    returns bit-identical centroids, so serve-path queries never
    depend on which path ran."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "kmeans_model")
    first = similarity.kmeans_fit_or_load(
        spark, emb, k=4, model_path=path, max_iterations=4
    )
    a = sorted(
        (r["cell_id"], tuple(r["cvec"])) for r in first.collect()
    )
    # poison the source frame: a load MUST NOT recompute from it
    second = similarity.kmeans_fit_or_load(
        spark, emb.limit(0), k=4, model_path=path, max_iterations=4
    )
    b = sorted(
        (r["cell_id"], tuple(r["cvec"])) for r in second.collect()
    )
    assert a == b
    assert len(a) == 4


def test_kmeans_fit_or_load_refits_on_k_mismatch(spark, sf_dir, tmp_path):
    """ADVICE r4: a valid-schema model trained with a DIFFERENT k must
    trigger the refit fallback, never be served silently."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "kmeans_model_k")
    similarity.kmeans_fit_or_load(
        spark, emb, k=3, model_path=path, max_iterations=2
    )
    served = similarity.kmeans_fit_or_load(
        spark, emb, k=5, model_path=path, max_iterations=2
    )
    assert served.count() == 5  # refit with the requested k, not 3
    # and the refit overwrote the stale model
    assert spark.read.parquet(path).count() == 5


def test_cosine_expr_unit_norm(spark):
    df = spark.createDataFrame([(1,)], ["id"]).select(
        F.array(F.lit(1.0), F.lit(0.0)).alias("a"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("b"),
        F.array(F.lit(0.0), F.lit(1.0)).alias("c"),
    )
    row = df.select(
        similarity.cosine_expr(F.col("a"), F.col("b")).alias("same"),
        similarity.cosine_expr(F.col("a"), F.col("c")).alias("orth"),
    ).collect()[0]
    assert row["same"] == 1.0
    assert row["orth"] == 0.0


def test_cosine_threshold_pairs_tiled_exact(spark, sf_dir):
    """The block-tiled equi-join tiling must produce exactly the naive
    all-pairs answer (every qualifying pair once, none twice), with a
    block size small enough to force multi-tile paths."""
    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_threshold_pairs(
            emb, 0.35, block_size=16
        ).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    import math

    def cos(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return round(dot / (na * nb), 6)

    want = {
        (rows[i].vec_id, rows[j].vec_id)
        for i in range(len(rows))
        for j in range(len(rows))
        if rows[i].vec_id < rows[j].vec_id
        and cos(rows[i].embedding, rows[j].embedding) >= 0.35
    }
    assert got == want and len(want) > 0


def test_cosine_pairs_plan_has_no_nested_loop(spark, sf_dir):
    """The tiling exists to avoid BroadcastNestedLoopJoin (whole-side
    broadcast): the pair join must compile to an equi-join."""
    emb = load_table(spark, sf_dir, "embeddings")
    p = (
        similarity.cosine_threshold_pairs(emb, 0.35)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the PAIR join must be an equi-join on the tile keys (the operator
    # hints shuffle_hash so neither explode-replicated side is ever
    # broadcast); the only permissible nested-loop is the 1-row scalar
    # _nb broadcast (IdentityBroadcastMode), which ships one long, not
    # a corpus side
    assert "CartesianProduct" not in p
    assert (
        ("ShuffledHashJoin [_bi" in p)
        or ("BroadcastHashJoin [_bi" in p)
        or ("SortMergeJoin [_bi" in p)
    )
    assert p.count("BroadcastNestedLoopJoin") <= 1
    assert "IdentityBroadcastMode" in p


def test_rh_lsh_matches_exact_on_planted(spark, sf_dir):
    """RH-LSH pairs (banded sign-bit signatures + exact verify) must
    equal the exact scan at a near-dup threshold with planted
    near-duplicates (recall ≈ 1 − 1e−10 at cosine ≈ 0.99)."""
    from esgi_4iabd2_sparkstreaming_groupe13_spark.operators.caching import (
        release_cached,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.2 + 0.01).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    got = {
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.rh_lsh_pairs(corpus, 0.9).collect()
    }
    want = {
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.cosine_threshold_pairs(
            corpus, 0.9, block_size=64
        ).collect()
    }
    release_cached()
    assert got == want and len(want) >= 20


def test_winnow_df_cap_mirrored_in_oracle():
    """VERDICT r4 wrong #3: the q_winnow_pairs registry entry and its
    DuckDB oracle must apply the SAME df cap and min-shared bound —
    both sides render from the shared constants, and this pin catches
    either side hardcoding a diverging number (the end-to-end hash
    would catch it too, but only at driver time)."""
    from esgi_4iabd2_sparkstreaming_groupe13_spark.plans import queries as Q

    sql = Q.ORACLES["q_winnow_pairs"]
    assert f"count(*) <= {Q.WINNOW_MAX_FP_DF}" in sql
    assert f"count(*) >= {Q.WINNOW_MIN_SHARED}" in sql
    # the CTE embeds k and w only as derived offsets (k−1 rolling-hash
    # span, w−1 window span) — pin those so a k/w drift still trips
    assert f"- {dedup.WINNOW_K - 1}" in sql
    assert f"+ {dedup.WINNOW_W - 1}" in sql


def test_embedding_centroids_long_format(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0], 0), (2, [3.0, 4.0], 0), (3, [10.0, -2.0], 1)],
        ["vec_id", "embedding", "label"],
    )
    out = {(r.label, r.dim): (r.n_vecs, r.centroid_val) for r in
           similarity.embedding_centroids(df, "label").collect()}
    assert out[(0, 0)] == (2, 2.0)
    assert out[(0, 1)] == (2, 3.0)
    assert out[(1, 0)] == (1, 10.0)
    assert out[(1, 1)] == (1, -2.0)
    assert len(out) == 4


def test_containment_detects_embedded_document(spark):
    filler = " ".join(f"distinct filler token number {i} padding" for i in range(12))
    short_text = "quick brown fox jumps over"
    long_text = f"{short_text} {filler}"   # short doc embedded verbatim
    other = "entirely different material about spark shuffles and joins"
    df = spark.createDataFrame(
        [(1, short_text), (2, long_text), (3, other)], ["doc_id", "text"]
    )
    out = {(r.id_a, r.id_b): r for r in
           dedup.containment_pairs(df, "text", "doc_id", threshold=0.9)
           .collect()}
    pair = out[(1, 2)]
    # every shingle of the short doc appears in the long one...
    assert pair.containment_a == 1.0
    # ...but symmetric Jaccard stays low — the case this operator adds
    assert pair.jaccard < 0.5
    assert (1, 3) not in out and (2, 3) not in out


def test_incremental_dedup_classifies_against_corpus(spark):
    base = ("the quick brown fox jumps over the lazy dog while "
            "seventeen astronauts calibrate spectrometers beside "
            "the launch gantry under heavy autumn rainfall today")
    other = ("completely unrelated prose about distributed shuffle "
             "hash aggregation and adaptive query execution plans "
             "inside a columnar vectorized runtime with codegen")
    corpus = spark.createDataFrame(
        [(1, base), (2, other)], ["doc_id", "text"]
    )
    incoming = spark.createDataFrame(
        [
            (10, "  THE quick   brown fox jumps over the lazy dog while "
                 "seventeen astronauts calibrate spectrometers beside "
                 "the launch gantry under heavy autumn rainfall today"),
            (11, other[:-5] + "crane"),     # near-copy: tail edited
            (12, "fresh material nothing like either corpus document "
                 "describing entirely new telescopes and tide charts"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.decision for r in
           dedup.incremental_dedup(corpus, incoming, "text", "doc_id",
                                   threshold=0.9).collect()}
    assert out == {10: "dup_exact", 11: "dup_near", 12: "new"}


def test_incremental_dedup_indexed_equals_self_contained(spark, sf_dir, tmp_path):
    """The persisted-index serve path (build_dedup_index +
    incremental_dedup_indexed) must yield decision-identical output to
    the self-contained incremental_dedup on the real documents table —
    same corpus/incoming split as q_incremental_dedup."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") < 400)
    incoming = docs.filter(F.col("doc_id") >= 400)
    idx = str(tmp_path / "dedup_index")
    dedup.build_dedup_index(corpus, "text", "doc_id", idx)
    want = {r.doc_id: r.decision for r in
            dedup.incremental_dedup(corpus, incoming, "text", "doc_id",
                                    threshold=0.9).collect()}
    got = {r.doc_id: r.decision for r in
           dedup.incremental_dedup_indexed(idx, corpus, incoming, "text",
                                           "doc_id", threshold=0.9).collect()}
    assert got == want


def test_append_to_dedup_index_equals_rebuild(spark, sf_dir, tmp_path):
    """Two-ingest lifecycle: build on corpus A, serve batch B, append
    B's admitted docs, then serving batch C must equal serving C
    against an index REBUILT from A ∪ admitted(B) — the append path
    can never drift from a fresh fit."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    a = docs.filter(F.col("doc_id") < 300)
    b = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    c = docs.filter(F.col("doc_id") >= 400)
    idx = str(tmp_path / "idx_appended")
    dedup.build_dedup_index(a, "text", "doc_id", idx)
    b_decisions = dedup.incremental_dedup_indexed(
        idx, a, b, "text", "doc_id", threshold=0.9
    )
    # MATERIALIZE before appending (the documented read-write hazard:
    # a lazy frame over this index changes meaning once appended to —
    # every admitted doc would match its own new fingerprint)
    admitted_ids = [
        r.doc_id
        for r in b_decisions.filter(F.col("decision") == "new").collect()
    ]
    admitted = b.filter(F.col("doc_id").isin(admitted_ids))
    dedup.append_to_dedup_index(admitted, "text", "doc_id", idx)

    corpus2 = a.unionByName(admitted)
    idx2 = str(tmp_path / "idx_rebuilt")
    dedup.build_dedup_index(corpus2, "text", "doc_id", idx2)
    got = {r.doc_id: r.decision for r in
           dedup.incremental_dedup_indexed(idx, corpus2, c, "text",
                                           "doc_id", threshold=0.9).collect()}
    want = {r.doc_id: r.decision for r in
            dedup.incremental_dedup_indexed(idx2, corpus2, c, "text",
                                            "doc_id", threshold=0.9).collect()}
    assert got == want
    assert len(got) == c.count()


def test_incremental_dedup_indexed_rejects_mismatched_geometry(spark, tmp_path):
    """An index built with different LSH geometry must raise — banding
    with mismatched parameters silently loses every near-dup."""
    import pytest

    corpus = spark.createDataFrame(
        [(1, "some corpus text about telescopes and tide charts")],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "idx")
    dedup.build_dedup_index(corpus, "text", "doc_id", idx, n_hashes=16,
                            bands=4)
    with pytest.raises(ValueError, match="geometry"):
        dedup.incremental_dedup_indexed(
            idx, corpus, corpus, "text", "doc_id", n_hashes=32, bands=8
        ).collect()


def test_edit_verified_pairs_annotates_candidates(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    edited = base.replace("jumps", "leaps")  # one-word edit: near-dup
    shuffled = " ".join(reversed(base.split()))  # same vocab, not an edit
    df = spark.createDataFrame(
        [(0, base), (1, edited), (2, shuffled)], ["doc_id", "text"]
    )
    out = {(r["id_a"], r["id_b"]): r for r in dedup.edit_verified_pairs(
        df, "text", "doc_id", candidate_threshold=0.1, edit_threshold=0.8
    ).collect()}
    assert (0, 1) in out  # candidate AND verified
    assert out[(0, 1)]["verified"] is True
    assert out[(0, 1)]["edit_sim"] >= 0.9
    # the shuffled doc shares shingles (candidate) but fails the edit
    # verdict — and stays in the output: annotate, don't filter
    assert (0, 2) in out
    assert out[(0, 2)]["verified"] is False
    assert out[(0, 2)]["edit_sim"] < out[(0, 1)]["edit_sim"]


def test_line_dedup_drops_boilerplate_keeps_order(spark):
    """CCNet-style line dedup: the footer shared by 3 docs (> max_df=2)
    is dropped; the line shared by exactly 2 docs SURVIVES (threshold
    contract is strictly >); unique lines keep their original order in
    text_clean."""
    footer = "subscribe to our newsletter"
    pair = "shared by exactly two docs"
    rows = [
        (0, f"alpha content one\n{footer}\nbravo content two"),
        (1, f"charlie text here\n{footer}"),
        (2, f"delta words go here\n{footer}\n{pair}"),
        (3, f"echo unique line\n{pair}"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.line_dedup(
        df, "text", "doc_id", max_line_df=2
    ).collect()}
    assert out[0]["n_lines"] == 3 and out[0]["kept_lines"] == 2
    assert out[0]["text_clean"] == "alpha content one\nbravo content two"
    assert out[1]["text_clean"] == "charlie text here"
    # the df==2 line survives; only the df==3 footer is boilerplate
    assert out[2]["text_clean"] == f"delta words go here\n{pair}"
    assert out[3]["kept_lines"] == 2
    assert out[0]["kept_fraction"] == pytest.approx(0.666667)


def test_line_dedup_normalizes_line_identity(spark):
    """Reformatted copies of a line (case, extra whitespace) count as
    the SAME line for document frequency — a re-indented footer cannot
    hide from the boilerplate cut."""
    rows = [
        (0, "Visit  Our   Site\nreal body text aa"),
        (1, "visit our site\nreal body text bb"),
        (2, "VISIT OUR SITE \nreal body text cc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.line_dedup(
        df, "text", "doc_id", max_line_df=2
    ).collect()}
    for i in range(3):
        assert out[i]["kept_lines"] == 1
        assert out[i]["text_clean"].startswith("real body text")


def test_line_dedup_all_dropped_doc_yields_empty_clean_text(spark):
    boiler = "the only line"
    df = spark.createDataFrame(
        [(i, boiler) for i in range(4)], ["doc_id", "text"]
    )
    out = dedup.line_dedup(df, "text", "doc_id", max_line_df=2).collect()
    for r in out:
        assert r["kept_lines"] == 0
        assert r["text_clean"] == ""
        assert r["kept_fraction"] == 0.0


def test_lsh_geometry_rejected_at_build_and_pair_time(spark, tmp_path):
    """bands must divide n_hashes — ValueError (not a strippable
    assert) at index BUILD time and in the pair generators."""
    df = spark.createDataFrame([(0, "text body")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="geometry"):
        dedup.build_dedup_index(
            df, "text", "doc_id", str(tmp_path / "i"), n_hashes=32, bands=7
        )
    with pytest.raises(ValueError, match="geometry"):
        dedup.minhash_lsh_pairs(
            df, "text", "doc_id", 0.9, n_hashes=32, bands=7
        )
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_pairs(df, "text", "doc_id", max_hamming=4)


def test_prefix_jaccard_equals_bruteforce(spark):
    """Prefix filtering must lose NOTHING: pairs ≥ t from the
    prefix-indexed join == brute-force token-set Jaccard over all
    pairs (recall 1.0 is the theorem, not an aspiration)."""
    import itertools

    texts = [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon eta",      # near-dup of 0
        "alpha beta gamma delta epsilon zeta",     # exact dup of 0
        "one two three four five six seven",
        "one two three four five six eight",       # near-dup of 3
        "totally different words entirely here now",
        "alpha one totally gamma three words",     # mixed, low sim
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    t = 0.5
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.prefix_jaccard_pairs(df, "text", "doc_id", t).collect()
    }
    sets = [set(x.split()) for x in texts]
    want = {}
    for a, b in itertools.combinations(range(len(texts)), 2):
        inter = len(sets[a] & sets[b])
        j = inter / (len(sets[a]) + len(sets[b]) - inter)
        if round(j, 6) >= t:
            want[(a, b)] = round(j, 6)
    assert got == want
    assert (0, 2) in got and got[(0, 2)] == 1.0


def test_prefix_filter_prunes_on_natural_vocabulary(spark):
    """The pruning claim, evidenced: on a corpus with a realistic
    skewed vocabulary (common words everywhere, rare words sparse),
    the prefix index must be a small fraction of the full inverted
    index, and candidate pairs far fewer than all pairs — while the
    result stays brute-force-exact (recall theorem)."""
    import itertools

    common = "the of and to in a is that it was".split()
    rare = [f"rare{i}" for i in range(40)]
    texts = []
    for i in range(20):
        # every doc: all common words + two doc-specific rare words
        texts.append(" ".join(common + [rare[2 * i], rare[2 * i + 1]]))
    # one planted near-dup pair sharing rare words
    texts.append(" ".join(common + [rare[0], rare[1]]))
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    t = 0.9
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.prefix_jaccard_pairs(df, "text", "doc_id", t).collect()
    }
    sets = [set(x.split()) for x in texts]
    want = set()
    for a, b in itertools.combinations(range(len(texts)), 2):
        inter = len(sets[a] & sets[b])
        if round(inter / (len(sets[a]) + len(sets[b]) - inter), 6) >= t:
            want.add((a, b))
    assert got == want == {(0, 20)}
    # pruning evidence: prefix length is |s| - ceil(0.9*|s|) + 1 = 2 of
    # 12 tokens, and prefixes are the RAREST tokens — so candidate
    # pairs collapse to the planted rare-word collision instead of the
    # 210 all-pairs the common words would otherwise generate
    from esgi_4iabd2_sparkstreaming_groupe13_spark.operators.text import (
        content_norm,
    )

    toks = df.select(
        F.array_distinct(
            F.filter(
                F.split(content_norm(F.col("text")), " "),
                lambda x: F.length(x) > 0,
            )
        ).alias("toks")
    )
    n_tokens = toks.select(F.sum(F.size("toks"))).collect()[0][0]
    # prefix index size = sum of per-doc prefix lengths (2 each here)
    assert 2 * len(texts) < n_tokens / 3


def test_indexed_serve_replay_exclusion_antijoins_broadcast(spark, tmp_path):
    """VERDICT r8 wrong #3: the replay-exclusion anti-joins must carry
    an EXPLICIT broadcast of the micro-batch id set — inc_ids derives
    from a frame Catalyst cannot always size, and an AQE decline would
    shuffle the whole fingerprint/signature index every micro-batch.
    Pin the plan shape: every LeftAnti in the serve plan is a
    BroadcastHashJoin (no shuffle-side SortMergeJoin LeftAnti)."""
    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} about telescopes and tide "
             f"charts with some shared filler text to shingle")
         for i in range(20)],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "idx_bcast")
    dedup.build_dedup_index(corpus, "text", "doc_id", idx)
    incoming = spark.createDataFrame(
        [(100, "an entirely fresh incoming document concerning the "
               "fermentation of sourdough and patient starter cultures")],
        ["doc_id", "text"],
    )
    plan = (
        dedup.incremental_dedup_indexed(idx, corpus, incoming, "text", "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti_lines, "expected replay-exclusion LeftAnti joins in the plan"
    for ln in anti_lines:
        assert "BroadcastHashJoin" in ln, f"non-broadcast anti-join: {ln}"


# ---- substring-level span dedup (Lee et al. tier, new r9) ----

_SPAN_BOILER = (
    "subscribe to our newsletter for updates delivered every morning"
)  # 9 tokens


def _span_docs(spark):
    return spark.createDataFrame(
        [
            (1, "unique opening about tide charts and estuaries. "
                f"{_SPAN_BOILER}. closing words on birds"),
            (2, "totally different text concerning telescopes. "
                f"{_SPAN_BOILER}. more brass polishing notes"),
            (3, "entirely fresh document about sourdough with no repeated "
                "content at all here today"),
        ],
        ["doc_id", "text"],
    )


def test_duplicated_spans_finds_maximal_cross_doc_span(spark):
    """The 9-token boilerplate pasted mid-document into docs 1 and 2
    must surface as EXACTLY the maximal 9-token span in each (k=5 →
    5 consecutive duplicated shingles merge into one island); the
    clean doc has none."""
    spans = {
        r["doc_id"]: r
        for r in dedup.duplicated_spans(
            _span_docs(spark), "text", "doc_id", k=5
        ).collect()
    }
    assert set(spans) == {1, 2}
    # doc 1: boilerplate starts at token 8 (7 unique tokens precede it)
    assert (spans[1]["span_start"], spans[1]["span_end"]) == (8, 16)
    assert spans[1]["span_tokens"] == 9
    # doc 2: 5 preceding tokens
    assert (spans[2]["span_start"], spans[2]["span_end"]) == (6, 14)


def test_duplicated_spans_detects_self_repetition(spark):
    """A span repeated WITHIN one document is a duplicate too (total
    occurrence count, not distinct-doc count)."""
    phrase = "one two three four five six"
    df = spark.createDataFrame(
        [(1, f"{phrase} filler alpha beta gamma delta {phrase}")],
        ["doc_id", "text"],
    )
    spans = dedup.duplicated_spans(df, "text", "doc_id", k=5).collect()
    assert len(spans) == 2
    assert all(r["span_tokens"] == 6 for r in spans)


def test_duplicated_spans_short_docs_skipped(spark):
    df = spark.createDataFrame(
        [(1, "too short"), (2, "too short")], ["doc_id", "text"]
    )
    assert dedup.duplicated_spans(df, "text", "doc_id", k=5).count() == 0


def test_strip_duplicated_spans_removes_all_occurrences(spark):
    df = _span_docs(spark)
    spans = dedup.duplicated_spans(df, "text", "doc_id", k=5)
    out = {
        r["doc_id"]: r
        for r in dedup.strip_duplicated_spans(
            df, spans, "text", "doc_id"
        ).collect()
    }
    assert out[1]["clean_text"] == (
        "unique opening about tide charts and estuaries closing words on birds"
    )
    assert out[1]["tokens_kept"] == 11
    assert "newsletter" not in out[2]["clean_text"]
    # untouched doc passes through complete (normalized stream)
    assert out[3]["tokens_kept"] == 13
    assert out[3]["clean_text"].startswith("entirely fresh document")


def test_duplicated_spans_shuffle_carries_hashes_not_text(spark):
    """Plan shape: the df aggregate's exchange must not carry the
    document text — only the 16-byte shingle key (and position/id on
    the island side)."""
    df = _span_docs(spark)
    plan = (
        dedup.duplicated_spans(df, "text", "doc_id", k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_dedup_best_reps_picks_quality_not_min_id(spark):
    """The manifest must rank cluster members by (quality_score DESC,
    id ASC) — NOT keep the min id. Doc 11 is a near-dup of doc 10 with
    a higher classifier score (verified against the scorer itself), so
    the cluster labelled by min-id 10 must name 11 as its keeper;
    singletons keep themselves with n_members == 1."""
    from esgi_4iabd2_sparkstreaming_groupe13_spark.operators.text import (
        quality_classifier_score,
    )

    base = (
        "the quick brown fox jumps over the lazy dog near the old "
        "river bank while morning light settles on the quiet water"
    )
    rows = [
        (10, base + " zzqx"),          # near-dup pair, lower score
        (11, base),                    # near-dup pair member
        (30, "completely unrelated text about spark shuffles and "
             "partition boundaries in distributed execution engines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {
        r["doc_id"]: r["quality_score"]
        for r in quality_classifier_score(df, "text", "doc_id").collect()
    }
    out = {
        r["cluster_id"]: r
        for r in dedup.dedup_best_reps(
            df, "text", "doc_id", threshold=0.5
        ).collect()
    }
    pair = out[10]
    assert pair["n_members"] == 2
    expected = 11 if scores[11] > scores[10] else 10
    if scores[11] == scores[10]:
        expected = 10  # tie -> min id
    assert pair["best_doc_id"] == expected
    assert pair["best_score"] == max(scores[10], scores[11])
    assert out[30]["best_doc_id"] == 30 and out[30]["n_members"] == 1


@pytest.fixture(scope="module")
def ivf_index(spark, sf_dir, tmp_path_factory):
    """Built IVF index over the sf embeddings with stride centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents, _ = similarity.ivf_assign(emb, 50)
    idx = str(tmp_path_factory.mktemp("ivfidx") / "index")
    similarity.ivf_index_build(spark, emb, cents, idx)
    return emb, cents, idx


def test_ivf_index_topk_matches_inflight(spark, sf_dir, ivf_index):
    """Serving from the persisted cell-partitioned lists must return
    EXACTLY what the in-flight assignment path returns — same
    centroids, same probes, same ranks."""
    emb, cents, idx = ivf_index
    qids = [r["vec_id"] for r in emb.select("vec_id").limit(3).collect()]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    served = similarity.ivf_index_topk(
        spark, idx, cents, queries, k=5, nprobe=4
    )
    inflight = similarity.ivf_topk(
        emb, qids, 5, nprobe=4, centroids=cents
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, inflight.collect())
    )


def test_ivf_index_append_equals_rebuild_and_tolerates_replay(
    spark, sf_dir, tmp_path
):
    """build(half) + append(rest) must serve identically to
    build(full); appending the same batch twice (an at-least-once
    replay) must not change any result."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents, _ = similarity.ivf_assign(emb, 50)
    half = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    similarity.ivf_index_build(spark, half, cents, inc)
    similarity.ivf_index_append(spark, rest, cents, inc)
    similarity.ivf_index_build(spark, emb, cents, full)
    qids = [r["vec_id"] for r in emb.select("vec_id").limit(3).collect()]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    a = similarity.ivf_index_topk(spark, inc, cents, queries, 5, 4)
    b = similarity.ivf_index_topk(spark, full, cents, queries, 5, 4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # replay the append — dropDuplicates on the serve path absorbs it
    similarity.ivf_index_append(spark, rest, cents, inc)
    c = similarity.ivf_index_topk(spark, inc, cents, queries, 5, 4)
    assert sorted(map(tuple, c.collect())) == sorted(map(tuple, b.collect()))


def test_ivf_index_probe_prunes_partitions(spark, sf_dir, ivf_index):
    """The 100 TB claim: an nprobe-cell probe must reach the scan as a
    PartitionFilters predicate on cell_id — unprobed cells' files are
    never read."""
    emb, cents, idx = ivf_index
    qids = [r["vec_id"] for r in emb.select("vec_id").limit(1).collect()]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    plan = (
        similarity.ivf_index_topk(spark, idx, cents, queries, 5, 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*cell_id", plan)
    assert m, plan[:2000]


def test_ivf_drift_report_flags_shifted_batch(spark, tmp_path):
    """A batch from the training distribution reads ratio ~1 (no
    retrain); a batch from a DIFFERENT distribution must trip the
    retrain signal. Planted geometry makes drift unambiguous: training
    vectors hug axes e0/e1 (the two centroids), the drifted batch
    points along e7 — near-zero cosine to every centroid. (A negated
    isotropic batch is NOT drift for a symmetric corpus — measured
    ratio 1.03 — which is itself the point: the monitor keys on
    assignment quality, not raw vector identity.)"""
    dim = 8

    def axis_vec(axis, perturb_axis, eps=0.1):
        v = [0.0] * dim
        v[axis] = 1.0
        v[perturb_axis] = eps
        return v

    train = [
        (i, axis_vec(i % 2, 2 + (i % 6)))
        for i in range(60)
    ]
    emb = spark.createDataFrame(
        train, "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(0, [1.0] + [0.0] * (dim - 1)),
         (1, [0.0, 1.0] + [0.0] * (dim - 2))],
        "cell_id long, cvec array<double>",
    )
    idx = str(tmp_path / "drift_idx")
    similarity.ivf_index_build(spark, emb, cents, idx)
    same = similarity.ivf_drift_report(spark, emb, cents, idx).collect()[0]
    assert abs(same["drift_ratio"] - 1.0) < 1e-6
    assert same["retrain"] is False
    drifted = spark.createDataFrame(
        [(1000 + i, axis_vec(7, 2)) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    bad = similarity.ivf_drift_report(
        spark, drifted, cents, idx
    ).collect()[0]
    assert bad["drift_ratio"] > 1.5 and bad["retrain"] is True


def test_jl_projection_preserves_norms_and_is_deterministic(spark):
    """JL with a ±1 sign matrix (Achlioptas): E[||f(x)||²] = ||x||², so
    the mean squared-norm ratio over many vectors must sit near 1
    (variance O(1/k)); the projection is a pure function of the
    literal matrix, so repartitioning cannot change a single value."""
    import math
    import random

    from esgi_4iabd2_sparkstreaming_groupe13_spark.operators.similarity import (
        jl_project,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(64)])
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r["jlvec"] for r in jl_project(
        df, "vec_id", "embedding", in_dim=64
    ).collect()}
    assert all(len(v) == 16 for v in out.values())
    ratios = []
    for i, vec in rows:
        orig = sum(x * x for x in vec)
        proj = sum(x * x for x in out[i])
        ratios.append(proj / orig)
    mean = sum(ratios) / len(ratios)
    assert 0.9 < mean < 1.1, mean  # E = 1, sd ≈ sqrt(2/16)/sqrt(400)

    out2 = {r["vec_id"]: r["jlvec"] for r in jl_project(
        df.repartition(13), "vec_id", "embedding", in_dim=64
    ).collect()}
    assert out == out2


def test_jl_projection_null_vector_propagates_null(spark):
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    from esgi_4iabd2_sparkstreaming_groupe13_spark.operators.similarity import (
        jl_project,
    )

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    df = spark.createDataFrame([(0, [0.5] * 64), (1, None)], schema)
    out = {r["vec_id"]: r["jlvec"] for r in jl_project(
        df, "vec_id", "embedding", in_dim=64
    ).collect()}
    assert out[0] is not None and len(out[0]) == 16
    assert out[1] is None


def _semdedup_corpus(spark, extra=()):
    """Near-isotropic base + whatever the test plants: semdedup needs
    enough background members per cell for centroids to be
    meaningful."""
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(64)])
        for i in range(300)
    ]
    rows += list(extra)
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_semdedup_one_keep_per_group_and_singletons(spark):
    from esgi_4iabd2_sparkstreaming_groupe13_spark.operators.similarity import (
        semdedup,
    )

    planted = [
        (9000 + i, [x * 1.2 + 0.01 for x in [0.1 * ((i + j) % 7 - 3) for j in range(64)]])
        for i in range(3)
    ]
    df = _semdedup_corpus(spark, planted)
    res = semdedup(df, 0.9, in_dim=64).collect()
    assert len(res) == df.count()
    groups = {}
    for r in res:
        groups.setdefault(r["group_rep"], []).append(r)
    # exactly one keeper everywhere; singletons keep themselves
    for members in groups.values():
        assert sum(1 for m in members if m["keep"]) == 1
        if len(members) == 1:
            assert members[0]["keep"]
    # rep = min id of the group
    for rep, members in groups.items():
        assert rep == min(m["vec_id"] for m in members)


def test_semdedup_keeps_centroid_farthest_member(spark):
    """The SemDeDup keep-rule: inside a near-dup group, the survivor
    is the member farthest (lowest cosine) from the cell centroid —
    four copies of a base direction plus one angled outlier must keep
    the outlier and drop the copies."""
    from esgi_4iabd2_sparkstreaming_groupe13_spark.operators.similarity import (
        semdedup,
    )

    base = [1.0] + [0.0] * 63
    tilt = [1.0, 0.0, 0.2] + [0.0] * 61  # cos(base, tilt) ≈ 0.981
    planted = [(9001 + i, list(base)) for i in range(4)] + [(9000, tilt)]
    df = _semdedup_corpus(spark, planted)
    res = {r["vec_id"]: r for r in semdedup(df, 0.9, in_dim=64).collect()}
    group = {i for i in (9000, 9001, 9002, 9003, 9004)
             if res[i]["group_rep"] == res[9000]["group_rep"]}
    # the planted five must cluster together (same cell: near-identical
    # directions agree on every coarse sign bit here)
    assert group == {9000, 9001, 9002, 9003, 9004}
    kept = [i for i in group if res[i]["keep"]]
    assert kept == [9000], kept  # the angled outlier survives


def test_semdedup_identical_vectors_tie_break_by_id(spark):
    from esgi_4iabd2_sparkstreaming_groupe13_spark.operators.similarity import (
        semdedup,
    )

    v = [0.3 * ((j % 5) - 2) for j in range(64)]
    df = _semdedup_corpus(spark, [(9100, list(v)), (9101, list(v))])
    res = {r["vec_id"]: r for r in semdedup(df, 0.9, in_dim=64).collect()}
    assert res[9100]["group_rep"] == res[9101]["group_rep"] == 9100
    assert res[9100]["keep"] and not res[9101]["keep"]


def test_div_half_away_exact_above_double_precision(spark):
    """Long quotients above 2^53 must come from SQL integral div, not
    IEEE double division (which misrounds by one ulp there and would
    diverge from the oracle's exact `//`)."""
    from esgi_4iabd2_sparkstreaming_groupe13_spark.operators.similarity import (
        _div_half_away,
        _div_half_away_col,
    )
    from pyspark.sql import functions as F

    k = 18014398509481985  # > 2^53
    df = spark.createDataFrame([(k * 6,)], ["s"])
    got = df.select(
        _div_half_away(F.col("s"), 6).alias("a"),
        _div_half_away_col(F.col("s"), F.lit(3)).alias("b"),
    ).collect()[0]
    assert got["a"] == k  # round(6k/6)
    assert got["b"] == 2 * k  # round(6k/3)


def test_kmeans_l2_recovers_separated_cluster_means(spark):
    """metric='l2' (plain Lloyd's) must place centroids at the raw
    MEANS of well-separated clusters — no normalization anywhere
    (subvector norms carry distance information in the PQ use-case)."""
    rows = []
    for i in range(40):
        rows.append((i, [10.0 + 0.01 * (i % 5), 0.0]))       # cluster A
        rows.append((100 + i, [0.0, -3.0 - 0.01 * (i % 5)]))  # cluster B
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents, _, _ = similarity.kmeans_fit(
        df, k=2, max_iterations=10, metric="l2"
    )
    got = sorted(tuple(r["cvec"]) for r in cents.collect())
    assert abs(got[0][1] - (-3.02)) < 0.05 and abs(got[0][0]) < 0.01
    assert abs(got[1][0] - 10.02) < 0.05 and abs(got[1][1]) < 0.01
    with pytest.raises(ValueError, match="metric"):
        similarity.kmeans_fit(df, k=2, metric="manhattan")


def test_kmeans_fit_releases_persisted_source_on_failure(spark, monkeypatch):
    """A fit that dies mid-way (in this test: at the first farthest-point
    seeding round, after the seed scan has filled the cache) must still
    unpersist its normalized source — no cached frame outlives a
    failed call."""
    rows = [(i, [float(i % 3), 1.0, float(i % 5)]) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    def boom(*_args, **_kwargs):
        raise RuntimeError("injected mid-fit failure")

    before = persistent_ids()
    monkeypatch.setattr(similarity, "cosine_expr", boom)
    with pytest.raises(RuntimeError, match="injected mid-fit failure"):
        similarity.kmeans_fit(df, k=3, max_iterations=5)
    # ids present before may vanish (the context cleaner drops
    # unreferenced checkpoints asynchronously); none may be added
    assert persistent_ids() - before == set()


def test_pq_encode_deterministic_and_bounded(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cb = similarity.pq_train(emb, 64, m=8, max_iterations=4)
    codes = similarity.pq_encode(emb, cb, 64, m=8)
    rows = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    assert all(len(c) == 8 for c in rows.values())
    assert all(0 <= x < 16 for c in rows.values() for x in c)
    again = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.pq_encode(
            emb.repartition(7), cb, 64, m=8
        ).collect()
    }
    assert rows == again


@pytest.fixture(scope="module")
def pq16(spark, sf_dir):
    """One 16x16 codebook shared by the reconstruction and recall
    gates — training is the expensive part (16 sub-space fits)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb, similarity.pq_train(emb, 64, m=16, max_iterations=6)


def test_pq_quantization_reduces_reconstruction_error(pq16):
    """Decoded PQ centroids must reconstruct vectors far better than
    the zero vector: mean squared reconstruction error < 60% of the
    mean squared norm (a broken codebook or mis-sliced subvector
    sends this to ~100%)."""
    emb, cb = pq16
    books = {}
    for r in cb.collect():
        books[(r["sub_id"], r["cell_id"])] = list(r["cvec"])
    codes = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.pq_encode(emb, cb, 64, m=16).collect()
    }
    tot_err = tot_norm = 0.0
    for r in emb.select("vec_id", "embedding").collect():
        v = [float(x) for x in r["embedding"]]
        rec = []
        for s, code in enumerate(codes[r["vec_id"]]):
            rec.extend(books[(s, code)])
        tot_err += sum((a - b) ** 2 for a, b in zip(v, rec))
        tot_norm += sum(a * a for a in v)
    assert tot_err / tot_norm < 0.6, tot_err / tot_norm


def test_pq_fit_or_load_round_trip_and_geometry_refit(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "pq_model")
    first = similarity.pq_fit_or_load(
        spark, emb, 64, path, m=4, max_iterations=2
    )
    a = sorted(
        (r["sub_id"], r["cell_id"], tuple(r["cvec"])) for r in first.collect()
    )
    # load path: a poisoned source frame must not be recomputed from
    second = similarity.pq_fit_or_load(
        spark, emb.limit(0), 64, path, m=4, max_iterations=2
    )
    b = sorted(
        (r["sub_id"], r["cell_id"], tuple(r["cvec"])) for r in second.collect()
    )
    assert a == b and len(a) == 64
    # geometry mismatch (different m) must refit, never serve silently
    refit = similarity.pq_fit_or_load(
        spark, emb, 64, path, m=8, max_iterations=2
    )
    assert refit.count() == 8 * 16
    assert spark.read.parquet(path).count() == 8 * 16


def test_pq_recall_gate_mean_floor(pq16):
    """Registry-gate quality bar: at the 16x16 geometry mean recall@5
    across the registry queries must clear 0.2 (lossy by design — the
    bar catches catastrophic breakage, not ANN-grade quality)."""
    emb, cb = pq16
    exact = similarity.brute_force_topk(emb, [0, 1, 2, 3, 4], 5)
    codes = similarity.pq_encode(emb, cb, 64, m=16)
    q = emb.filter(F.col("vec_id").isin([0, 1, 2, 3, 4])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    approx = similarity.pq_adc_topk(codes, cb, q, 6, 64, m=16).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    mean = len(e & a) / len(e)
    assert mean >= 0.2, mean


def test_model_prune_keeps_same_version_derived_artifacts(
    spark, sf_dir, tmp_path, monkeypatch
):
    """_trained_centroids prunes stale model VERSIONS but must keep
    artifacts DERIVED from the current version (…_ivfidx, …_pq): the
    pre-fix equality check deleted the persisted IVF index on every
    call, silently re-paying the index build each serve query."""
    import os

    from esgi_4iabd2_sparkstreaming_groupe13_spark.plans import queries as Q

    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path))
    cur = Q._kmeans_model_path(sf_dir)
    derived = [cur + "_ivfidx", cur + "_ivfidx__stats", cur + "_pq"]
    stale = os.path.join(
        os.path.dirname(cur), Q._kmeans_model_prefix(sf_dir) + "_999_old"
    )
    for d in derived + [stale, stale + "_pq"]:
        os.makedirs(d, exist_ok=True)
    Q._trained_centroids(spark, sf_dir)
    for d in derived:
        assert os.path.exists(d), d
    assert not os.path.exists(stale)
    assert not os.path.exists(stale + "_pq")


def test_lsh_hot_bucket_cap_semantics(spark):
    """max_bucket_size (new r11): a planted boilerplate cluster whose
    members share EVERY band bucket is excluded from candidate
    generation under the cap, while organic near-dup pairs (small
    buckets) are untouched. Precision is unaffected either way —
    survivors are exact-verified."""
    base = "the quick brown fox jumps over the lazy dog again and again "
    organic = [
        (1, base + "alpha beta gamma delta"),
        (2, base + "alpha beta gamma delt"),  # near-dup of 1
        (3, "completely different content about spark shuffles etc"),
    ]
    hot = [(100 + i, "boilerplate " * 30) for i in range(12)]
    df = spark.createDataFrame(organic + hot, "doc_id long, text string")

    uncapped = dedup.minhash_lsh_pairs(df, "text", "doc_id", 0.9)
    capped = dedup.minhash_lsh_pairs(
        df, "text", "doc_id", 0.9, max_bucket_size=8
    )
    un = {(r.id_a, r.id_b) for r in uncapped.collect()}
    cp = {(r.id_a, r.id_b) for r in capped.collect()}
    hot_pairs = {(a, b) for a in range(100, 112) for b in range(100, 112) if a < b}
    # uncapped: organic near-dup AND all 66 hot pairs (exact copies)
    assert (1, 2) in un
    assert hot_pairs <= un
    # capped: organic survives, the hot cluster's pairs are dropped
    assert (1, 2) in cp
    assert not (hot_pairs & cp)
    # the dropped content is exactly what the exact-dedup tier catches
    reps = dedup.dedup_exact(df, ["text"], "doc_id")
    assert reps.count() == len(organic) + 1  # 12 copies -> 1 rep


def test_lsh_cap_validation(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_bucket_size"):
        dedup.minhash_lsh_pairs(df, "text", "doc_id", 0.9, max_bucket_size=1)


def test_minhash_signature_plan_single_md5(docs):
    """Signature shape pin (r17: reverted to explode + MIN aggregates
    after the A/B + 100x scale probe showed the r16 array_min column
    formulation 1.24x/1.7x+ slower — see _signatures_from_shingles).
    Two properties guard the fast shape: (1) exactly ONE md5 call in
    the optimized plan — md5 must live in the Project below the
    aggregate, never inlined per permutation (the 32x hash blowup
    regression); (2) the physical plan aggregates with a PARTIAL +
    final HashAggregate pair, so the exchange carries one combined row
    per doc, not the exploded shingle stream."""
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", n_hashes=32)
    plan = sigs._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("md5") == 1, plan
    physical = sigs._jdf.queryExecution().executedPlan().toString()
    assert physical.count("HashAggregate") == 2, physical
    assert "partial_min" in physical, physical
