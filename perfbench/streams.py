"""The ``stream_paced`` workload: the paper's producer → consumer →
dashboard pipeline on one Spark session.

Set-up drains one 50k-row NDJSON file through the consumer to warm the
JVM (the other inputs are written meanwhile), then stages the open
loop's trips: ``sources.batch.load_trip_csv`` and
``streaming.producer.stage_batches`` cut them into 500-row batch files.

1. Open loop. A single generator thread publishes one staged file every
   0.1 s on an absolute clock (10 files/s, 5k rows/s offered) and
   stamps each file's due time; the consumer
   (``streaming.processor.start_consumer``) runs on a 0-second
   processing-time trigger with no per-trigger file cap; one poller
   thread calls ``dashboard.snapshot`` every 0.5 s while the writes
   land. The first 8 s of files are warm-up; the next 11 s of files
   (10 s plus ten, so that at least 10 freshness samples lie beyond the
   p90) are measured.
2. Closed-loop backlog drain. Three 50k-row NDJSON files are drained
   with ``available_now=True`` at ``maxFilesPerTrigger=1``: the per-row
   cost of enrichment, projection, aggregation and the four sink
   writes.

Freshness of a published file is the commit time of the trigger that
consumed it (the mtime of its entry in the checkpoint's commit log)
minus the file's due time. Both phases' sinks are checked after the
run against the generator's ground truth.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import check
import gen
import stats
from harness import JobCounter, jvm_pid, log, make_progress_recorder, tree_cpu_s

DRAIN_ROWS_PER_FILE = 50_000
DRAIN_WARM_FILES = 1
DRAIN_FILES = 3
PACED_ROWS_PER_FILE = 500
PACED_PERIOD_S = 0.1
PACED_WARM_S = 8.0
DASH_PERIOD_S = 0.5


def _seeds(seed: int, n: int) -> list[int]:
    return [int(s.generate_state(1)[0]) for s in np.random.SeedSequence(seed).spawn(n)]


def _consumer_cfg(work: str, name: str, input_dir: str, max_files):
    from esgi_4iabd2_sparkstreaming_groupe13_spark.config import ConsumerConfig

    return ConsumerConfig(
        input_dir=input_dir,
        max_files_per_trigger=max_files,
        trigger_seconds=0,
        output_dir=os.path.join(work, name, "out"),
        checkpoint_dir=os.path.join(work, name, "ckpt"),
    )


def _write_drain_files(work: str, name: str, seed: int, n_files: int) -> gen.TripTruth:
    src = os.path.join(work, name, "src")
    os.makedirs(src)
    truths = []
    for i, s in enumerate(_seeds(seed, n_files)):
        df, truth = gen.trips(s, DRAIN_ROWS_PER_FILE)
        gen.write_trip_ndjson(df, os.path.join(src, f"taxi-batch-batch{i:04d}.json"))
        truths.append(truth)
    return gen.merge_truth(truths)


def _run_drain(spark, cfg, recorder=None) -> tuple[float, list[dict], str]:
    """Drain ``cfg.input_dir``; returns (wall seconds, progress of the
    batches that read rows, run id)."""
    from esgi_4iabd2_sparkstreaming_groupe13_spark.streaming.processor import (
        start_consumer,
    )

    t0 = time.perf_counter()
    q = start_consumer(spark, cfg, available_now=True)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(f"drain failed: {q.exception()}")
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    if recorder is not None:
        last = max(p["batchId"] for p in progress)
        if not recorder.wait_for(str(q.id), last):
            raise RuntimeError("listener missed drain progress events")
    return wall, progress, str(q.runId)


def _source_log(ckpt: str) -> dict[str, int]:
    """File basename -> batch id, from the file source's checkpoint log
    (plain and compacted entries)."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def _log_times(ckpt: str, kind: str) -> dict[int, float]:
    """Batch id -> wall-clock time its ``kind`` (offsets/commits) log
    entry was written."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, kind, "*")):
        base = os.path.basename(path)
        if base.isdigit():
            out[int(base)] = os.stat(path).st_mtime_ns / 1e9
    return out


class _Generator(threading.Thread):
    """Publishes staged batch files into the watched directory, one per
    period, on an absolute clock; records each file's due time."""

    def __init__(self, staged: list[str], watch_dir: str, start_at: float):
        super().__init__(name="perfbench-generator", daemon=True)
        self.staged = staged
        self.watch_dir = watch_dir
        self.start_at = start_at
        self.due: dict[str, float] = {}
        self.published: dict[str, float] = {}
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, path in enumerate(self.staged):
                due = self.start_at + i * PACED_PERIOD_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                name = f"taxi-batch-batch{i}-{time.strftime('%Y%m%d_%H%M%S')}.json"
                os.rename(path, os.path.join(self.watch_dir, name))
                self.published[name] = time.time()
                self.due[name] = due
        except BaseException as ex:  # reported by the workload after join
            self.error = ex


class _Poller(threading.Thread):
    """Calls ``dashboard.snapshot`` once per period between two wall
    clock times and records each call's duration."""

    def __init__(self, out_dir: str, start_at: float, stop_at: float):
        super().__init__(name="perfbench-dashboard", daemon=True)
        self.out_dir = out_dir
        self.start_at = start_at
        self.stop_at = stop_at
        self.times: list[float] = []
        self.files_listed: list[int] = []
        self.failed = 0

    def run(self) -> None:
        from esgi_4iabd2_sparkstreaming_groupe13_spark import dashboard

        i = 0
        while True:
            due = self.start_at + i * DASH_PERIOD_S
            if due >= self.stop_at:
                return
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            i += 1
            t0 = time.perf_counter()
            try:
                dashboard.snapshot(self.out_dir)
            except Exception as ex:  # a failed refresh is counted, not fatal
                log(f"dashboard refresh failed: {ex!r}")
                self.failed += 1
                continue
            self.times.append(time.perf_counter() - t0)
            self.files_listed.append(
                sum(
                    len(glob.glob(os.path.join(self.out_dir, d, "*.json")))
                    for d in dashboard.OUTPUT_DIRS
                )
            )


def run(spark, work: str, seed: int, seconds: int, trace: bool) -> dict:
    from esgi_4iabd2_sparkstreaming_groupe13_spark.sources.batch import load_trip_csv
    from esgi_4iabd2_sparkstreaming_groupe13_spark.streaming.producer import (
        stage_batches,
    )
    from esgi_4iabd2_sparkstreaming_groupe13_spark.streaming.processor import (
        start_consumer,
    )

    recorder = jobs = None
    if trace:
        recorder = make_progress_recorder()
        spark.streams.addListener(recorder)
        jobs = JobCounter(spark)
    warm_seed, drain_seed, paced_seed = _seeds(seed, 3)
    n_warm = int(PACED_WARM_S / PACED_PERIOD_S)
    # ten files over the minimum: commit times are file mtimes on a coarse
    # clock, so two samples can tie at the p90
    n_measured = max(round(seconds / PACED_PERIOD_S), stats.min_samples_for(0.9)) + 10

    # ---- set-up: inputs, drain warm-up, producer staging -------------
    t_setup = time.perf_counter()
    _write_drain_files(work, "drain_warm", warm_seed, DRAIN_WARM_FILES)
    csv_path = os.path.join(work, "paced_trips.csv")

    def write_inputs() -> tuple[gen.TripTruth, gen.TripTruth]:
        drain_truth = _write_drain_files(work, "drain", drain_seed, DRAIN_FILES)
        paced_df, paced_truth = gen.trips(
            paced_seed, (n_warm + n_measured) * PACED_ROWS_PER_FILE
        )
        gen.write_trip_csv(paced_df, csv_path)
        return drain_truth, paced_truth

    # the remaining inputs are written while the warm-up drain runs
    with ThreadPoolExecutor(max_workers=1) as pool:
        inputs = pool.submit(write_inputs)
        _run_drain(
            spark,
            _consumer_cfg(work, "drain_warm", os.path.join(work, "drain_warm", "src"), 1),
        )
        drain_truth, paced_truth = inputs.result()
    log("drain warm-up done, inputs written")
    stage_dir = os.path.join(work, "paced", "stage")
    t0 = time.perf_counter()
    files_staged = stage_batches(
        load_trip_csv(spark, csv_path), stage_dir, PACED_ROWS_PER_FILE
    )
    stage_s = time.perf_counter() - t0
    staged = [
        sorted(glob.glob(os.path.join(stage_dir, f"batch_no={i}", "part-*.json")))
        for i in range(files_staged)
    ]
    if any(len(parts) != 1 for parts in staged):
        raise RuntimeError("producer staging did not write one file per batch")
    setup_s = time.perf_counter() - t_setup
    log(f"stream set-up {setup_s:.1f}s (staging {stage_s:.2f}s, {files_staged} files)")

    # ---- phase 1: open loop -----------------------------------------
    t_warm = time.perf_counter()
    watch = os.path.join(work, "paced", "watch")
    os.makedirs(watch)
    paced_cfg = _consumer_cfg(work, "paced", watch, None)
    floor = jobs.max_job_id([None]) if trace else -1
    pid = jvm_pid(spark)
    cpu0 = tree_cpu_s(pid)
    query = start_consumer(spark, paced_cfg)
    start_at = time.time() + 0.5
    generator = _Generator([p[0] for p in staged], watch, start_at)
    measured_start = start_at + n_warm * PACED_PERIOD_S
    measured_stop = start_at + (n_warm + n_measured) * PACED_PERIOD_S
    poller = _Poller(paced_cfg.output_dir, measured_start, measured_stop)
    generator.start()
    poller.start()
    # consumer start and the warm-up files count as set-up
    setup_s += (measured_start - time.time()) + (time.perf_counter() - t_warm)
    generator.join()
    poller.join()
    if generator.error is not None:
        raise RuntimeError(f"generator failed: {generator.error!r}")
    query.processAllAvailable()
    paced_cpu = tree_cpu_s(pid) - cpu0
    query.stop()
    if query.exception() is not None:
        raise RuntimeError(f"paced consumer failed: {query.exception()}")
    paced_jobs = (jobs.count(str(query.runId)) + jobs.ungrouped_after(floor)) if trace else 0
    log("paced phase done")

    # ---- phase 2: closed-loop drain ---------------------------------
    drain_cfg = _consumer_cfg(work, "drain", os.path.join(work, "drain", "src"), 1)
    floor = jobs.max_job_id([None, str(query.runId)]) if trace else -1
    cpu0 = tree_cpu_s(pid)
    drain_wall, drain_progress, drain_run = _run_drain(spark, drain_cfg, recorder)
    drain_cpu = tree_cpu_s(pid) - cpu0
    drain_rate = drain_truth.rows / drain_wall
    drain_jobs = (jobs.count(drain_run) + jobs.ungrouped_after(floor)) if trace else 0
    log(f"drain {drain_truth.rows} rows in {drain_wall:.2f}s = {drain_rate:.0f} rows/s")

    # ---- results (untimed) ------------------------------------------
    ckpt = paced_cfg.checkpoint_dir
    batch_of = _source_log(ckpt)
    commit_at = _log_times(ckpt, "commits")
    names = sorted(generator.due, key=generator.due.get)
    measured = names[n_warm:]
    fresh = [commit_at[batch_of[n]] - generator.due[n] for n in measured]
    measured_rows = n_measured * PACED_ROWS_PER_FILE
    window = max(commit_at[batch_of[n]] for n in measured) - generator.due[measured[0]]
    late_max = max(generator.published[n] - generator.due[n] for n in names)

    problems = []
    drain_problems = check.check_sinks(check.read_sinks(drain_cfg.output_dir), drain_truth)
    paced_problems = check.check_sinks(check.read_sinks(paced_cfg.output_dir), paced_truth)
    for tag, found in (("drain", drain_problems), ("paced", paced_problems)):
        problems += [f"{tag}: {p}" for p in found]
    if not stats.supported_tail(fresh, 0.9):
        problems.append("paced: fewer than 10 freshness samples beyond the p90")
    attempted = len(drain_progress) + len(measured) + len(poller.times) + poller.failed
    failed = (
        (len(drain_progress) if drain_problems else 0)
        + (len(measured) if paced_problems else 0)
        + poller.failed
    )
    log(
        f"paced: {len(measured)} files, freshness p50 {stats.percentile(fresh, 0.5):.3f}s "
        f"p90 {stats.percentile(fresh, 0.9):.3f}s, {measured_rows / window:.0f} rows/s, "
        f"generator late max {late_max * 1000:.1f}ms, "
        f"{len(poller.times)} dashboard refreshes"
    )
    out = {
        "problems": problems,
        "attempted": attempted,
        "failed": failed,
        "setup_s": setup_s,
        "throughput_per_s": drain_rate,
        "latency_typical_s": stats.percentile(fresh, 0.5),
        "latency_tail_s": stats.percentile(fresh, 0.9),
        "measured_cpu_s": paced_cpu + drain_cpu,
        "samples": {
            "freshness": len(fresh),
            "freshness_beyond_p90": stats.samples_beyond(fresh, 0.9),
            "drain_batches": len(drain_progress),
            "dashboard_refreshes": len(poller.times),
        },
        "provenance": {
            "drain_rows": drain_truth.rows,
            "paced_rate_files_per_s": 1 / PACED_PERIOD_S,
            "paced_rows_per_file": PACED_ROWS_PER_FILE,
            "paced_rows_per_s_committed": measured_rows / window,
            "generator_late_max_s": late_max,
            "paced_cpu_s": paced_cpu,
            "drain_cpu_s": drain_cpu,
            "freshness_mean_s": sum(fresh) / len(fresh),
        },
    }
    if not trace:
        return out

    # ---- per-layer split (traced run only) --------------------------
    if not recorder.wait_for(str(query.id), max(commit_at)):
        raise RuntimeError("listener missed paced progress events")
    events = recorder.for_query(str(query.id))
    measured_batches = {batch_of[n] for n in measured}
    trig = [p for p in events if p.batchId in measured_batches and p.numInputRows > 0]
    drain_ev = [
        p for p in recorder.events if str(p.runId) == drain_run and p.numInputRows > 0
    ]
    paced_batches = [p for p in events if p.numInputRows > 0]

    def phase(ps, key):
        return [float(p.durationMs.get(key, 0)) for p in ps]

    offsets_at = _log_times(ckpt, "offsets")
    backlog = []
    consumed_before = 0
    for b in sorted(offsets_at):
        published = sum(1 for n in names if generator.published[n] <= offsets_at[b])
        backlog.append(published - consumed_before)
        consumed_before += sum(1 for n in names if batch_of.get(n) == b)
    dash = [t * 1000 for t in poller.times]
    out["layers"] = {
        "source.latest_offset_ms_p50": stats.median(phase(trig, "latestOffset")),
        "source.get_batch_ms_p50": stats.median(phase(trig, "getBatch")),
        "source.backlog_files_max": max(backlog),
        "processor.add_batch_ms_p50": stats.median(phase(trig, "addBatch")),
        "processor.add_batch_ms_p90": stats.percentile(phase(trig, "addBatch"), 0.9),
        "processor.commit_ms_p50": stats.median(
            [a + b for a, b in zip(phase(trig, "walCommit"), phase(trig, "commitOffsets"))]
        ),
        "processor.query_planning_ms_p50": stats.median(phase(trig, "queryPlanning")),
        "processor.trigger_ms_p50": stats.median(phase(trig, "triggerExecution")),
        "processor.jobs_per_batch": paced_jobs / max(1, len(paced_batches)),
        "processor.rows_per_batch": stats.median([float(p.numInputRows) for p in trig]),
        "drain.add_batch_ms_p50": stats.median(phase(drain_ev, "addBatch")),
        "drain.trigger_ms_p50": stats.median(phase(drain_ev, "triggerExecution")),
        "drain.jobs_per_batch": drain_jobs / max(1, len(drain_ev)),
        "producer.stage_s": stage_s,
        "producer.files_staged": files_staged,
        "generator.late_max_s": late_max,
        "dashboard.snapshot_ms_p50": stats.median(dash),
        "dashboard.snapshot_ms_p90": stats.percentile(dash, 0.9),
        "dashboard.files_listed_max": max(poller.files_listed),
    }
    return out
