"""The ``query_slate`` workload: headline registry queries run by one
client, in alphabetical order, against a seeded star-schema corpus.

Set-up writes the corpus and points the model store
(``SPARK_GRAFT_MODEL_DIR``) at a fresh directory. A traced run, or the
first run in a checkout, fits the store cold there (``q_ivf_index``
against the empty store, reported as ``model_store.cold_fit_s``) and
the first run keeps a copy that later untraced runs copy in. One
untimed warm pass over the slate, on ``WARM_THREADS`` client threads,
collects every result together with its row hashes in one action,
while the DuckDB oracles run on one more thread. Timed passes follow,
one per 10 s of the run's seconds; each query's wall time (plan build —
including any eager jobs the operators run — plus the final action) is
its fastest timed pass.
Every timed result is forced with a full-width ``xxhash64`` checksum so
no column can be pruned away.

After the run, each warm-pass result is compared with its DuckDB
oracle, and every timed execution must reproduce the row count and
checksum of the verified warm-pass rows.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import check
import gen
import stats
from harness import JobCounter, catalyst_ms, jvm_pid, log, tree_cpu_s

#: The slate: headline queries grouped by operator family. It holds the
#: six queries ROADMAP direction 5 targets plus one cheap representative
#: of three other families, sized so that with the cold k-means fit a
#: run stays near 70 s (the benchmark's time budget covers 48 runs).
#: The multimodal family has no headline query.
FAMILIES = {
    "relational": ["q_join_fact_dim", "q_tpch_q1"],
    "windows": ["q_window_frames"],
    "sketches": ["q_percentiles", "q_profile"],
    "dedup": ["q_best_rep", "q_minhash_lsh"],
    "similarity": ["q_ivf_index"],
    "streaming_equiv": ["q_sessionize"],
}
#: Queries whose operators run jobs while the plan is built.
EAGER_TRACKED = ["q_best_rep", "q_ivf_index", "q_minhash_lsh", "q_profile"]
SLATE = sorted(q for qs in FAMILIES.values() for q in qs)
COLD_FIT_QUERY = "q_ivf_index"
#: Client threads of the untimed warm pass. The timed passes run one
#: query at a time.
WARM_THREADS = 3
#: One timed pass per this many seconds of the run (a pass takes 11-13 s
#: on 4 CPUs).
SECONDS_PER_PASS = 10
#: The quantizer's training table is the same for every seed (all other
#: tables follow the seed), so one checkout fits the model store once and
#: later untraced runs copy it; see ``run``.
EMBEDDINGS_SEED = 20_240_101
EMBEDDINGS_MTIME_NS = 1_704_067_200 * 10**9
#: Column that carries each row's hash while the warm pass collects it.
_HASH_COL = "__perfbench_xxhash64"


def _program_digest() -> str:
    """Digest of the package's Python sources: a cached model store is
    reused only by the code that fitted it."""
    import esgi_4iabd2_sparkstreaming_groupe13_spark as pkg

    root = os.path.dirname(pkg.__file__)
    h = hashlib.sha1(str(EMBEDDINGS_SEED).encode())
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def force(df):
    """Materialize every column of every row; returns
    ((rows, checksum), the aggregate frame that ran)."""
    from pyspark.sql import functions as F

    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("checksum"),
    )
    row = agg.collect()[0]
    return (int(row["n"]), int(row["checksum"] or 0)), agg


def collect(df):
    """Collect every row of ``df`` in one action; returns (the digest
    ``force`` gives the same rows, the rows as a pandas frame)."""
    import numpy as np
    from pyspark.sql import functions as F

    pdf = df.withColumn(_HASH_COL, F.xxhash64(F.struct(*df.columns))).toPandas()
    hashes = pdf.pop(_HASH_COL).to_numpy(dtype=np.int64)
    return (len(pdf), int(np.bitwise_xor.reduce(hashes)) if len(hashes) else 0), pdf


def oracle_frames(corpus: str, tables: list[str], oracles: dict[str, str]) -> dict:
    """Each query's DuckDB oracle result on ``corpus``, on one DuckDB
    thread."""
    import duckdb

    con = duckdb.connect(config={"threads": 1})
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')"
            )
        return {name: con.execute(sql).df() for name, sql in oracles.items()}
    finally:
        con.close()


def run(spark, work: str, seed: int, seconds: int, trace: bool) -> dict:
    from esgi_4iabd2_sparkstreaming_groupe13_spark.operators.caching import (
        release_cached,
    )
    from esgi_4iabd2_sparkstreaming_groupe13_spark.plans.queries import QUERIES

    specs = {s.name: s for s in QUERIES}
    missing = [q for q in SLATE if q not in specs or not specs[q].headline]
    if missing:
        raise RuntimeError(f"slate queries not in the headline registry: {missing}")
    jobs = JobCounter(spark) if trace else None

    t_setup = time.perf_counter()
    shared = os.path.join(os.path.dirname(work), "slate")
    corpus = os.path.join(shared, "corpus")
    shutil.rmtree(corpus, ignore_errors=True)
    tables = gen.write_corpus(seed, corpus, embeddings_seed=EMBEDDINGS_SEED)
    # the model store keys a fitted model by the corpus path and the
    # embeddings file's size and mtime: pin the mtime so every run's
    # corpus maps to the same key
    os.utime(os.path.join(corpus, "embeddings.parquet"), ns=(EMBEDDINGS_MTIME_NS,) * 2)
    model_dir = os.path.join(work, "models")
    os.makedirs(model_dir)
    os.environ["SPARK_GRAFT_MODEL_DIR"] = model_dir
    cache = os.path.join(shared, "model-cache", _program_digest())
    cold = trace or not os.path.isdir(cache)
    if not cold:
        shutil.copytree(cache, model_dir, dirs_exist_ok=True)
    store_before = sorted(os.listdir(model_dir))
    verified: dict[str, tuple[int, int]] = {}
    results = {}
    cold_fit_s = None
    # the warm pass runs on WARM_THREADS client threads, with the oracles
    # on one more thread beside it; a cold fit (q_ivf_index against the
    # empty store) runs last and alone, so that it is timed on a warm JVM
    warm = [q for q in SLATE if q != COLD_FIT_QUERY] if cold else SLATE
    with ThreadPoolExecutor(max_workers=1) as oracle_pool:
        oracle_job = oracle_pool.submit(
            oracle_frames, corpus, tables, {q: specs[q].oracle for q in SLATE}
        )
        with ThreadPoolExecutor(max_workers=WARM_THREADS) as pool:
            for name, (digest, rows) in zip(
                warm, pool.map(lambda q: collect(specs[q].fn(spark, corpus)), warm)
            ):
                verified[name], results[name] = digest, rows
        release_cached()
        if cold:
            t0 = time.perf_counter()
            verified[COLD_FIT_QUERY], results[COLD_FIT_QUERY] = collect(
                specs[COLD_FIT_QUERY].fn(spark, corpus)
            )
            cold_fit_s = time.perf_counter() - t0
            release_cached()
        oracles = oracle_job.result()
    store_after = sorted(os.listdir(model_dir))
    if cold and not os.path.isdir(cache):
        tmp = f"{cache}.tmp-{os.getpid()}"
        shutil.copytree(model_dir, tmp)
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        os.rename(tmp, cache)
    setup_s = time.perf_counter() - t_setup
    log(
        f"slate set-up {setup_s:.1f}s, model store "
        + (f"cold fit {cold_fit_s:.1f}s" if cold else "copied from the checkout cache")
    )

    walls: dict[str, list[float]] = {q: [] for q in SLATE}
    build: dict[str, list[float]] = {q: [] for q in SLATE}
    eager: dict[str, list[int]] = {q: [] for q in SLATE}
    action_jobs: dict[str, list[int]] = {q: [] for q in SLATE}
    catalyst: dict[str, list[float]] = {q: [] for q in SLATE}
    digest_problems: list[str] = []
    failed_queries: set[str] = set()
    # the pass count follows the run's seconds, never the program's speed
    timed_passes = max(1, seconds // SECONDS_PER_PASS)
    t_run = time.perf_counter()
    cpu0 = tree_cpu_s(jvm_pid(spark))
    for p in range(1, timed_passes + 1):
        for name in SLATE:
            if trace:
                jobs.set_group(f"{name}#{p}:build")
            t0 = time.perf_counter()
            df = specs[name].fn(spark, corpus)
            t1 = time.perf_counter()
            if trace:
                jobs.set_group(f"{name}#{p}:action")
            digest, agg = force(df)
            t2 = time.perf_counter()
            release_cached()
            walls[name].append(t2 - t0)
            build[name].append(t1 - t0)
            found = check.check_digest(name, digest, verified[name])
            if found:
                digest_problems += found
                failed_queries.add(name)
            if trace:
                jobs.set_group(None)
                eager[name].append(jobs.count(f"{name}#{p}:build"))
                action_jobs[name].append(jobs.count(f"{name}#{p}:action"))
                catalyst[name].append(catalyst_ms(agg))
    timed_cpu = tree_cpu_s(jvm_pid(spark)) - cpu0
    log(f"slate: {timed_passes} timed passes in {time.perf_counter() - t_run:.1f}s")

    # ---- oracle check (untimed) -------------------------------------
    problems = list(digest_problems)
    for name in SLATE:
        found = check.compare_frames(results[name], oracles[name])
        if found:
            problems += [f"{name}: {p}" for p in found]
            failed_queries.add(name)

    # each query's fastest timed pass: a burst of CPU steal from other
    # guests on the machine must hit every pass to move it
    best = {q: walls[q].index(min(walls[q])) for q in SLATE}
    per_query = {q: walls[q][best[q]] for q in SLATE}
    slate_wall = sum(per_query.values())
    vals = list(per_query.values())
    log(
        f"slate wall {slate_wall:.2f}s, geomean {stats.geomean(vals):.3f}s, "
        + ", ".join(f"{q} {per_query[q]:.2f}" for q in SLATE)
    )
    out = {
        "problems": problems,
        "attempted": timed_passes * len(SLATE),
        "failed": sum(1 for q in SLATE for _ in walls[q] if q in failed_queries),
        "setup_s": setup_s,
        "throughput_per_s": len(SLATE) / slate_wall,
        "latency_typical_s": stats.geomean(vals),
        "latency_tail_s": stats.percentile(vals, 0.9),
        "measured_cpu_s": timed_cpu,
        "samples": {"queries": len(SLATE), "timed_passes": timed_passes},
        "provenance": {
            "slate_wall_s": slate_wall,
            "query_median_s": stats.median(vals),
            "model_store": {
                "dir": "fresh per run",
                "before_warm_pass": store_before or "empty",
                "after_warm_pass": store_after,
                "cold_fit_s": cold_fit_s,
                "timed_passes_read": "warm",
            },
        },
    }
    if not trace:
        return out

    def at_best(series: dict[str, list]) -> list:
        return [series[q][best[q]] for q in SLATE]

    layers = {
        "slate.plan_build_s": sum(at_best(build)),
        "slate.final_action_s": sum(per_query.values()) - sum(at_best(build)),
        "slate.jobs_total": sum(at_best(eager)) + sum(at_best(action_jobs)),
        "slate.eager_jobs_total": sum(at_best(eager)),
        "slate.catalyst_ms_total": sum(at_best(catalyst)),
        "model_store.cold_fit_s": cold_fit_s,  # traced runs always fit cold
    }
    for fam, qs in FAMILIES.items():
        layers[f"slate.family.{fam}_s"] = sum(per_query[q] for q in qs)
    for q in SLATE:
        layers[f"query.{q}.wall_s"] = per_query[q]
    for q in EAGER_TRACKED:
        layers[f"query.{q}.eager_jobs"] = eager[q][best[q]]
    out["layers"] = layers
    return out
