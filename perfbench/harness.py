"""Measurement plumbing shared by the workloads: the Spark session the
benchmark runs under, forcing a plan, the RSS sampler, host context,
summary statistics and the span tracer.

Nothing here imports pyspark at module import time, so the pure helpers
(percentiles, host readings) stay testable without a JVM.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from fractions import Fraction

# Percentiles the tail rule may report, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else float("nan")


def _rank(n, pct):
    """1-based nearest rank of the pct-th percentile among n samples."""
    return max(1, math.ceil(n * Fraction(str(pct)) / 100))


def percentile(values, pct):
    """Nearest-rank percentile of a non-empty sample."""
    ordered = sorted(values)
    return ordered[min(_rank(len(ordered), pct), len(ordered)) - 1]


def tail_percentile(n):
    """The highest percentile in TAIL_LADDER with >= MIN_BEYOND of `n`
    samples beyond it, or None when even the median lacks that support."""
    for pct in TAIL_LADDER:
        if n - _rank(n, pct) >= MIN_BEYOND:
            return pct
    return None


# --- host context ---------------------------------------------------------

def loadavg_1m():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_ticks():
    """Cumulative steal time of all CPUs, in clock ticks (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def host_reading():
    return {"loadavg_1m": loadavg_1m(), "steal_ticks": steal_ticks(),
            "time": time.time()}


# --- process tree: RSS and CPU time from /proc ---------------------------------

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid):
    """/proc/<pid>/stat fields after the command name (which may hold
    spaces and parentheses), or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rfind(")") + 2:].split()


def _tree(root_pid):
    """root_pid and all its live descendants."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (fields := _stat_fields(name)) is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        yield pid
        stack.extend(kids.get(pid, ()))


def _rss_kib(pid):
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s(root_pid):
    """CPU seconds (user + system, reaped children included) used so far by
    root_pid and all its descendants. Unlike wall time it excludes time the
    host's hypervisor stole."""
    total = 0
    for pid in _tree(root_pid):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])  # u/s time, children's
    return total / _TICKS


# HotSpot's JIT compiler threads: "C1 CompilerThre" / "C2 CompilerThre"
# (thread names are cut to 15 characters in /proc).
_JIT_THREAD_PREFIXES = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_s(jvm_pid):
    """CPU seconds used so far by the JVM's JIT compiler threads. Exact
    only while those threads live as long as the JVM, which build_spark
    asks for: a compiler thread that exits takes its count with it."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{jvm_pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.find("(") + 1:].startswith(_JIT_THREAD_PREFIXES):
            total += sum(int(x) for x in
                         stat[stat.rfind(")") + 2:].split()[11:13])
    return total / _TICKS


def tree_rss_mb(root_pid):
    """Summed RSS of root_pid and all its descendants, in MB."""
    return sum(_rss_kib(pid) for pid in _tree(root_pid)) / 1024.0


class RssSampler:
    """Background sampler of the JVM process tree's summed RSS; `peak_mb`
    is the largest sample taken while running."""

    def __init__(self, root_pid, interval_s=0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))


# --- Spark ------------------------------------------------------------------

DRIVER_MEMORY = "3g"


def spark_master():
    return f"local[{os.cpu_count() or 1}]"


def build_spark(work_dir):
    """The program's own session factory at local[nproc], with every
    scratch location (JVM tmpdir, shuffle spill, warehouse) inside
    `work_dir`. PYTHONPATH, TMPDIR and SPARK_LOCAL_DIRS are set by run.py
    before the JVM starts, so the JVM and its Python workers inherit them."""
    from pdf_extractor_spark.session import build_session

    return build_session(
        "perfbench",
        master=spark_master(),
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # compiler threads that live as long as the JVM, so that
            # jit_cpu_s sees all of the JIT's CPU time
            "spark.driver.extraJavaOptions":
                f"-XX:+UseParallelGC -XX:-UsePerfData "
                f"-XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={work_dir}/tmp",
            "spark.sql.warehouse.dir": f"{work_dir}/warehouse",
            "spark.local.dir": f"{work_dir}/spark-local",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def jvm_pid(spark):
    return spark.sparkContext._gateway.proc.pid


def force(df):
    """Run a plan to completion without collecting it (noop sink)."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def dir_stats(path):
    """(bytes, data files) under a directory, ignoring Spark's markers."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


# --- tracing ----------------------------------------------------------------

class Tracer:
    """Spans (name, start, end, parent, run id) around the benchmark's
    calls into each layer, kept in memory until exit. Each span tags its
    Spark jobs with a job group and, on close, reads their job / stage /
    task counts from the public status tracker. Disabled, `span` only
    runs its body."""

    def __init__(self, spark, run_id, enabled):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def rebind(self, spark):
        self.spark = spark

    @contextmanager
    def span(self, name):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext if self.spark is not None else None
        rec = {
            "name": name, "run_id": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": f"{self.run_id}:{len(self.spans)}",
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if sc is not None:
            sc.setJobGroup(rec["id"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                self._count_jobs(sc, rec)
                if self._stack:
                    parent = self._stack[-1]
                    sc.setJobGroup(parent["id"], parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    @staticmethod
    def _count_jobs(sc, rec):
        st = sc.statusTracker()
        stages = set()
        job_ids = st.getJobIdsForGroup(rec["id"])
        rec["jobs"] = len(job_ids)
        for jid in job_ids:
            info = st.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            s = st.getStageInfo(sid)
            if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                continue  # skipped stage: its shuffle output was reused
            rec["stages"] += 1
            rec["tasks"] += s.numCompletedTasks + s.numFailedTasks
            rec["failed_tasks"] += s.numFailedTasks

    def duration(self, rec):
        return rec["end"] - rec["start"]

    def totals(self):
        return {k: sum(s[k] for s in self.spans)
                for k in ("jobs", "stages", "tasks", "failed_tasks")}
