"""Spark session, package shipping, engine counters and the RSS sampler.

Everything here observes the engine from outside: counters come from the
driver's status store and status tracker, memory from `/proc`.  Nothing in
the program under test is changed.
"""

from __future__ import annotations

import os
import platform
import shutil
import tempfile
import threading
import time

PACKAGE = "ocr_sam_project_spark"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def start_session(work_dir: str, cores: int):
    """A `local[cores]` session whose scratch space lives under `work_dir`.

    Must run before anything else starts the JVM: the JVM's temp dir, the
    Spark local dirs and the Python workers' TMPDIR are all fixed at launch.
    """
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # SPARK_LOCAL_DIRS overrides spark.local.dir, so it is set too; the
    # Python workers inherit TMPDIR through the JVM's environment, and the
    # launcher JVM that spark-submit starts first reads SPARK_LAUNCHER_OPTS.
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ship_package(spark, root: str, work_dir: str) -> None:
    """Zip the package and add it to the Python workers' path, as
    `__spark_entry__._ship_package` does (the local-mode `--py-files`)."""
    base = os.path.join(work_dir, "pkg", PACKAGE)
    zip_path = shutil.make_archive(base, "zip", root_dir=root, base_dir=PACKAGE)
    spark.sparkContext.addPyFile(zip_path)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM gateway process, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def versions() -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
    }


# --------------------------------------------------------------------------
class EngineCounters:
    """Diff the executors' cumulative totals around one timed unit, and count
    that unit's jobs under a job group the benchmark sets.

    The executor summary's `totalDuration` follows wall time in local mode
    (one executor), so busy time is the summed task run time of the unit's
    stages instead."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._n = 0

    def _store(self):
        jsc = self._sc._jsc.sc()
        # task-end events reach the status store through the listener bus;
        # drain it so the totals include every finished task
        jsc.listenerBus().waitUntilEmpty(10_000)
        return jsc.statusStore()

    def _totals(self) -> dict:
        it = self._store().executorList(True).iterator()
        t = {"tasks": 0, "gc_ms": 0, "shuffle_write": 0, "input": 0}
        while it.hasNext():
            e = it.next()
            t["tasks"] += e.totalTasks()
            t["gc_ms"] += e.totalGCTime()
            t["shuffle_write"] += e.totalShuffleWrite()
            t["input"] += e.totalInputBytes()
        return t

    def _run_ms(self, job_ids) -> int:
        from py4j.protocol import Py4JJavaError

        store, tracker = self._store(), self._sc.statusTracker()
        stages = {s for j in job_ids if (info := tracker.getJobInfo(j))
                  for s in info.stageIds}
        total = 0
        for s in stages:
            try:
                total += store.lastStageAttempt(s).executorRunTime()
            except Py4JJavaError:  # a skipped stage never ran: no attempt
                pass
        return total

    def begin(self) -> tuple[str, dict]:
        self._n += 1
        group = f"perfbench-unit-{self._n}"
        self._sc.setJobGroup(group, group)
        return group, self._totals()

    def end(self, token: tuple[str, dict], run_s: float, cores: int) -> dict:
        group, before = token
        after = self._totals()
        self._sc.setJobGroup("perfbench-idle", "perfbench-idle")
        jobs = self._sc.statusTracker().getJobIdsForGroup(group)
        busy_s = self._run_ms(jobs) / 1000.0
        return {
            "jobs": len(jobs),
            "tasks": after["tasks"] - before["tasks"],
            "busy_s": busy_s,
            "busy_frac": busy_s / (run_s * cores) if run_s > 0 else 0.0,
            "gc_s": (after["gc_ms"] - before["gc_ms"]) / 1000.0,
            "shuffle_write_mb": (after["shuffle_write"] - before["shuffle_write"]) / 1e6,
            "input_mb": (after["input"] - before["input"]) / 1e6,
        }


# --------------------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its closing ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """`root` and all its descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _rss_kb(pid: int) -> tuple[str, int]:
    """(command name, resident set size in KiB) of one process, from
    `/proc/<pid>/status`.

    Pages that forked Python workers still share with the worker daemon are
    counted once per process.  Proportional set size would not double-count
    them, but `smaps_rollup` walks the page tables of the multi-GiB JVM
    (tens of milliseconds) on every sample, which perturbs the run it
    measures; `status` reads counters the kernel keeps."""
    try:
        with open(f"/proc/{pid}/status") as f:
            name, kb = "?", 0
            for line in f:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmRSS:"):
                    kb = int(line.split()[1])
                    break
            return name, kb
    except OSError:  # the process ended
        return "?", 0


class RssSampler:
    """Background thread: peak summed RSS of this process tree (driver
    Python, the JVM and its Python workers) while `active` is set."""

    def __init__(self, interval_s: float = 0.1):
        self._interval = interval_s
        self._stop = threading.Event()
        self.active = threading.Event()
        self._lock = threading.Lock()
        self._peak_kb = 0
        self._peak_by_name: dict[str, int] = {}
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        me = os.getpid()
        seen: set[int] = set()
        while not self._stop.wait(self._interval):
            if not self.active.is_set():
                continue
            tree = process_tree(me)
            by_name: dict[str, int] = {}
            # a process counts from its second sample on: a child the JVM
            # has just forked shares the JVM's address space until it execs
            # its helper, and its VmRSS would count the JVM's pages twice
            for pid in seen.intersection(tree):
                name, kb = _rss_kb(pid)
                by_name[name] = by_name.get(name, 0) + kb
            seen = set(tree)
            total = sum(by_name.values())
            with self._lock:
                if total > self._peak_kb:
                    self._peak_kb, self._peak_by_name = total, by_name

    def take_peak(self) -> tuple[float, dict[str, float]]:
        """Peak since the last call in MB, and its split by command name;
        resets the peak."""
        with self._lock:
            kb, by_name = self._peak_kb, self._peak_by_name
            self._peak_kb, self._peak_by_name = 0, {}
        return kb / 1024.0, {k: v / 1024.0 for k, v in by_name.items()}


def wait_for_children(timeout_s: float = 60.0) -> list[int]:
    """Wait until this process has no descendants left; kill stragglers."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in process_tree(me) if p != me]
        if not left:
            return []
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            time.sleep(0.5)
            return [p for p in process_tree(me) if p != me]
        time.sleep(0.2)
