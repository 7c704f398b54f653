"""Process-level plumbing shared by the workloads: pinned environment,
Spark session start and stop, memory and machine readings, and the
trace collectors (streaming progress listener, job counts, Catalyst
phase times) that read Spark's public surfaces.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time

#: Heap of the benchmark's Spark JVM. The session factory defaults to
#: 32g; the benchmark machine has 15 GiB shared with other work.
JVM_HEAP = "3g"

#: Environment switches that change the program's behaviour; a shell
#: that exported one for another experiment must not leak it in.
_UNPINNED_ENV = ("SPARK_GRAFT_UNPIN_LOCAL", "SPARK_GRAFT_INPUT_PARTITIONS")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work_dir: str) -> dict:
    """Fix the settings the program reads from the environment and keep
    every scratch file inside ``work_dir``. Returns what was pinned."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in _UNPINNED_ENV:
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM of the run (Spark's launcher and the session's) keeps its
    # temporary files in the work directory and writes no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "jvm_heap": JVM_HEAP,
        "load_avg_1m": round(os.getloadavg()[0], 2),
    }


def start_session(work_dir: str):
    """Start the program's Spark session; returns (spark, seconds)."""
    from esgi_4iabd2_sparkstreaming_groupe13_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            # keep every job of a run visible to the status tracker
            "spark.ui.retainedJobs": "100000",
        },
    )
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Spark JVM plus this Python process."""
    return (_vm_hwm_kb(jvm_pid(spark)) + _vm_hwm_kb("self")) / 1024.0


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and every
    live process below it, plus this Python process."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:  # the process exited while we listed
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        stats[int(entry)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    own = os.times()
    return total / tick + own.user + own.system


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over the host's CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def yardstick() -> float:
    """Seconds for a fixed pure-Python workload: a reading of machine
    speed at that moment, independent of the program under test."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    if acc < 0:  # keeps the loop's result live
        print(acc, file=sys.stderr)
    return time.perf_counter() - t0


def make_work_dir(root: str) -> str:
    path = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------
# Trace collectors (used only when --trace 1)
# --------------------------------------------------------------------


class JobCounter:
    """Counts Spark jobs by job group through the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def count(self, group: str) -> int:
        return len(self.tracker.getJobIdsForGroup(group))

    def ungrouped_after(self, floor: int) -> int:
        """Jobs outside any group with an id above ``floor``."""
        return sum(1 for j in self.tracker.getJobIdsForGroup(None) if j > floor)

    def max_job_id(self, groups: list[str | None]) -> int:
        ids = [j for g in groups for j in self.tracker.getJobIdsForGroup(g)]
        return max(ids, default=-1)


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning milliseconds of the query
    execution behind ``df`` (read after its action ran)."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0.0
    while it.hasNext():
        total += float(it.next()._2().durationMs())
    return total


def make_progress_recorder():
    """A StreamingQueryListener that keeps every progress event it is
    sent. Events arrive asynchronously; ``wait_for`` blocks until the
    events of a query reach a batch id."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def __init__(self):
            self.events: list = []
            self._cond = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self._cond:
                self.events.append(event.progress)
                self._cond.notify_all()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def for_query(self, query_id: str) -> list:
            with self._cond:
                return [p for p in self.events if str(p.id) == query_id]

        def wait_for(self, query_id: str, batch_id: int, timeout: float = 30.0) -> bool:
            deadline = time.monotonic() + timeout
            with self._cond:
                while True:
                    if any(
                        str(p.id) == query_id and p.batchId >= batch_id
                        for p in self.events
                    ):
                        return True
                    left = deadline - time.monotonic()
                    if left <= 0:
                        return False
                    self._cond.wait(left)

    return ProgressRecorder()
