"""Shared machinery of the benchmark: the scratch area, the Spark session,
spans, the process-tree RSS sampler and the event-log task metrics.

Every layer is timed from outside, around calls into its public functions;
the program under test is not modified. Spans are kept in memory and
summarised when the run ends.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_DIR = os.path.join(WORK, "run")
# The driver JVM pre-touches a fixed heap of this size (-Xms = -Xmx, see
# session.get_spark), so it is a floor under peak_rss_mb.
DRIVER_HEAP = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment() -> None:
    """Point every scratch file of the run (Spark local dirs, JVM and Python
    temp files) into the checkout, and make the package importable by the
    Python workers Spark forks."""
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(RUN_DIR, sub))
    os.environ["TMPDIR"] = os.path.join(RUN_DIR, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def start_spark(trace: bool):
    from multilingual_wiki_event_pipeline_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(RUN_DIR, 'tmp')}",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(RUN_DIR, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(master=f"local[{cpus()}]", app_name="perfbench",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def clean_work() -> None:
    shutil.rmtree(RUN_DIR, ignore_errors=True)


class Spans:
    """Named wall-time spans, recorded around calls into the program.

    ``span(name)`` also tags the Spark jobs the call starts with the job
    group ``name``, so the event log attributes task metrics to it."""

    def __init__(self):
        self.spark = None
        self.prefix = ""  # "warmup." while untimed warm-up ops run
        self.walls: dict[str, list[float]] = {}

    @contextmanager
    def span(self, name: str, group: bool = True):
        name = self.prefix + name
        sc = self.spark.sparkContext if (self.spark and group) else None
        if sc is not None:
            sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls.setdefault(name, []).append(time.perf_counter() - t0)
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def add(self, name: str, value: float) -> None:
        self.walls.setdefault(self.prefix + name, []).append(value)

    def total(self, name: str) -> float:
        return sum(self.walls.get(name, ()))

    def median(self, name: str) -> float:
        w = self.walls.get(name)
        return statistics.median(w) if w else 0.0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the driver JVM and the Python workers it forks) from /proc. Each
    process counts its proportional set size, so pages the forked workers
    share with their parent are counted once."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


def sentinel_reading() -> float:
    """One reading of the repository's host-noise sentinel (a fixed
    single-thread sha256 job). Recorded next to the walls; never used to
    drop or retry a sample."""
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from sentinel import sentinel_wall

    return sentinel_wall()


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far, from /proc/stat: the
    share of CPU time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


# -- Spark task metrics from the event log ----------------------------------

TASK_FIELDS = ("jobs", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_read_mb",
               "shuffle_write_mb", "spill_mb", "skew_ratio")
TASK_UNITS = ("count", "count", "s", "s", "s", "MB", "MB", "MB", "ratio")


def _event_log_lines():
    d = os.path.join(RUN_DIR, "eventlog")
    for fn in sorted(os.listdir(d)):
        with open(os.path.join(d, fn)) as f:
            yield from f


def task_metrics(groups: list[str]) -> dict[str, dict[str, float]]:
    """Per job group task metrics from the (closed) event log: job and task
    counts, task-seconds, CPU, GC, shuffle read/write, spill, and the ratio
    of the largest task to the median task. ``"all"`` sums the groups."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[str, list[dict]] = {}
    for line in _event_log_lines():
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g in groups:
                jobs[g] = jobs.get(g, 0) + 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            if g is not None:
                tasks.setdefault(g, []).append(ev.get("Task Metrics") or {})
    out = {}
    for g in groups + ["all"]:
        ms = [m for k in (groups if g == "all" else [g])
              for m in tasks.get(k, ())]
        runs = [m.get("Executor Run Time", 0) / 1e3 for m in ms]
        sr = [m.get("Shuffle Read Metrics") or {} for m in ms]
        med = statistics.median(runs) if runs else 0.0
        out[g] = {
            "jobs": sum(jobs.get(k, 0) for k in (groups if g == "all" else [g])),
            "tasks": len(ms),
            "task_s": sum(runs),
            "cpu_s": sum(m.get("Executor CPU Time", 0) for m in ms) / 1e9,
            "gc_s": sum(m.get("JVM GC Time", 0) for m in ms) / 1e3,
            "shuffle_read_mb": sum(r.get("Remote Bytes Read", 0)
                                   + r.get("Local Bytes Read", 0)
                                   for r in sr) / 2**20,
            "shuffle_write_mb": sum(
                (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0) for m in ms) / 2**20,
            "spill_mb": sum(m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0)
                            for m in ms) / 2**20,
            "skew_ratio": max(runs) / med if med > 0 else 0.0,
        }
    return out


def dir_stats(path: str) -> tuple[int, float]:
    """(number of data files, MB) under a written parquet directory."""
    n, size = 0, 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, fn))
    return n, size / 2**20
