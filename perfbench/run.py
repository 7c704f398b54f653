"""Benchmark entry point.

    python3 perfbench/run.py --workload {stream_paced,query_slate} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Builds every input from ``--seed``,
measures for about ``--seconds``, checks the program's outputs, and
prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics; with ``--trace 1`` the
per-layer metrics, measured in a separate traced run. The line before
it is a provenance record (pinned settings, load, sample counts,
model-store state, check problems). Progress goes to stderr.

Exits non-zero without a result line when the program cannot be
imported or a workload raises.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "esgi_4iabd2_sparkstreaming_groupe13_spark"

WORKLOADS = ("stream_paced", "query_slate")

#: name -> unit; every workload reports each of these with --trace 0.
END_TO_END = {
    "throughput_per_s": "1/s",
    "latency_typical_s": "s",
    "latency_tail_s": "s",
    "setup_s": "s",
}


def _per_layer() -> dict[str, str]:
    from slate import EAGER_TRACKED, FAMILIES, SLATE

    units = {
        "session.start_s": "s",
        "machine.yardstick_start_s": "s",
        "machine.yardstick_end_s": "s",
        "machine.steal_s": "s",
        "process.peak_rss_mb": "MB",
        "process.measured_cpu_s": "s",
        "trace.throughput_per_s": "1/s",
        "trace.latency_typical_s": "s",
        "trace.latency_tail_s": "s",
        "source.latest_offset_ms_p50": "ms",
        "source.get_batch_ms_p50": "ms",
        "source.backlog_files_max": "count",
        "processor.add_batch_ms_p50": "ms",
        "processor.add_batch_ms_p90": "ms",
        "processor.commit_ms_p50": "ms",
        "processor.query_planning_ms_p50": "ms",
        "processor.trigger_ms_p50": "ms",
        "processor.jobs_per_batch": "count",
        "processor.rows_per_batch": "count",
        "drain.add_batch_ms_p50": "ms",
        "drain.trigger_ms_p50": "ms",
        "drain.jobs_per_batch": "count",
        "producer.stage_s": "s",
        "producer.files_staged": "count",
        "generator.late_max_s": "s",
        "dashboard.snapshot_ms_p50": "ms",
        "dashboard.snapshot_ms_p90": "ms",
        "dashboard.files_listed_max": "count",
        "slate.plan_build_s": "s",
        "slate.final_action_s": "s",
        "slate.jobs_total": "count",
        "slate.eager_jobs_total": "count",
        "slate.catalyst_ms_total": "ms",
        "model_store.cold_fit_s": "s",
    }
    for fam in FAMILIES:
        units[f"slate.family.{fam}_s"] = "s"
    for q in SLATE:
        units[f"query.{q}.wall_s"] = "s"
    for q in EAGER_TRACKED:
        units[f"query.{q}.eager_jobs"] = "count"
    return units


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def _program_present() -> bool:
    return os.path.isfile(os.path.join(REPO, PACKAGE, "__init__.py"))


def main(argv: list[str]) -> int:
    args = _args(argv)
    if args.seconds < 1:
        print("--seconds must be at least 1", file=sys.stderr)
        return 2
    if not _program_present():
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 3
    sys.path.insert(0, REPO)

    import harness

    work = harness.make_work_dir(REPO)
    settings = harness.pin_environment(work)
    yard_start = harness.yardstick()
    steal_start = harness.cpu_steal_s()
    spark = None
    try:
        spark, session_s = harness.start_session(work)
        harness.log(f"session started in {session_s:.1f}s")
        if args.workload == "stream_paced":
            import streams as workload
        else:
            import slate as workload
        t0 = time.perf_counter()
        res = workload.run(spark, work, args.seed, args.seconds, bool(args.trace))
        harness.log(f"{args.workload} finished in {time.perf_counter() - t0:.1f}s")
        rss = harness.peak_rss_mb(spark)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    steal_s = harness.cpu_steal_s() - steal_start
    yard_end = harness.yardstick()
    harness.log("session stopped")

    e2e = {
        "throughput_per_s": res["throughput_per_s"],
        "latency_typical_s": res["latency_typical_s"],
        "latency_tail_s": res["latency_tail_s"],
        "setup_s": session_s + res["setup_s"],
    }
    if args.trace:
        units = _per_layer()
        values = dict.fromkeys(units, 0.0)
        values.update(res["layers"])
        values.update(
            {
                "session.start_s": session_s,
                "machine.yardstick_start_s": yard_start,
                "machine.yardstick_end_s": yard_end,
                "machine.steal_s": steal_s,
                "process.peak_rss_mb": rss,
                "process.measured_cpu_s": res["measured_cpu_s"],
                "trace.throughput_per_s": e2e["throughput_per_s"],
                "trace.latency_typical_s": e2e["latency_typical_s"],
                "trace.latency_tail_s": e2e["latency_tail_s"],
            }
        )
    else:
        units, values = END_TO_END, e2e
    if set(values) != set(units):
        raise RuntimeError(f"unexpected metrics: {sorted(set(values) ^ set(units))}")
    for p in res["problems"]:
        print(f"# CHECK FAILED: {p}", file=sys.stderr)
    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **settings,
        "cpu_steal_s": steal_s,
        "peak_rss_mb": rss,
        "samples": res["samples"],
        **res["provenance"],
        "problems": res["problems"],
    }
    print(json.dumps({"provenance": provenance}))
    print(
        json.dumps(
            {
                "correct": not res["problems"],
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": {
                    k: {"value": float(values[k]), "unit": units[k]} for k in units
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
