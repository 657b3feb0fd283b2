"""Measurement helpers: the pinned Spark session, process-tree CPU and
memory from ``/proc``, per-job-group Spark counters, and the span tracer.

The JVM is reached through private ``_jsc`` / ``_jvm`` handles; every
such access lives in :func:`stage_metrics` and :func:`settle` so a Spark
upgrade that moves them breaks two functions.
"""

from __future__ import annotations

import gc
import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def pinned_cores() -> int:
    """Cores the session uses: two, or one fewer than ``nproc`` on a
    smaller machine. The benchmark's ops are bound by the cost per Spark
    job, not by parallelism, so two task threads run them as fast as
    three, and the spare cores keep the JVM's compiler and GC threads
    and the driver off the task threads."""
    return max(1, min(2, (os.cpu_count() or 1) - 1))


def start_session(work_dir: str, cores: int):
    """A session with the engine's own configuration (``session.configure``),
    pinned to ``cores`` and keeping every file it writes under
    ``work_dir``."""
    from pyspark.sql import SparkSession

    from opensanctions_spark.session import configure

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    builder = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{cores}]")
        .config("spark.local.dir", tmp)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g")
    )
    spark = configure(builder).config("spark.driver.memory", "2g").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def settle(sc) -> None:
    """Full garbage collection in Python and in the JVM before an op, so
    a collection left over from the previous op does not land inside
    this op's timer."""
    gc.collect()
    sc._jvm.System.gc()


# -- /proc ----------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def process_tree() -> list[int]:
    """This process and all its descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree: the driver, the
    JVM it launched and the JVM's Python workers, including reaped
    children."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK_TCK


def steal_ticks() -> int:
    """Clock ticks the hypervisor gave to other guests (all CPUs)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def jvm_pid() -> int | None:
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def jvm_peak_rss_mb(pid: int | None) -> float:
    """Peak resident set (VmHWM) of the JVM so far, in MB."""
    if pid is None:
        return 0.0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def dir_mb(*paths: str) -> float:
    """Bytes on disk under ``paths``, in MB."""
    total = 0
    for path in paths:
        for root, _, files in os.walk(path):
            for name in files:
                try:
                    total += os.path.getsize(os.path.join(root, name))
                except OSError:
                    continue
    return total / 1e6


# -- Spark counters -------------------------------------------------------

def stage_metrics(sc, stage_ids) -> dict[str, float]:
    """Summed executor CPU, GC, shuffle bytes and failed tasks of the
    given stages, read from the JVM status store."""
    out = {"exec_cpu_s": 0.0, "shuffle_mb": 0.0, "gc_s": 0.0, "failed_tasks": 0}
    if not stage_ids:
        return out
    store = sc._jsc.sc().statusStore()
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(int(sid))
        except Exception:  # noqa: BLE001 - evicted or skipped stage
            continue
        out["exec_cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 1e6
        out["failed_tasks"] += st.numFailedTasks()
    return out


def group_counters(sc, group: str) -> dict[str, float]:
    """jobs, tasks and the status-store sums for every job of ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: list[int] = []
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            sinfo = tracker.getStageInfo(s)
            if sinfo is not None and sinfo.numCompletedTasks + sinfo.numFailedTasks:
                stages.append(s)
                tasks += sinfo.numTasks
    return {"jobs": len(jobs), "tasks": tasks, **stage_metrics(sc, stages)}


_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


class Tracer:
    """In-memory spans: name, op id, parent, start/end and counters.

    ``span`` tags every Spark job started inside it with its own job
    group and, on exit, records that group's counters and restores the
    thread's previous job group. Spans nest; a child's jobs are counted
    in the child only."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id = 0

    def _open(self, name: str, start: float) -> dict:
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "op": self.op_id,
               "parent": parent, "start": start, "counters": {}}
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str):
        rec = self._open(name, time.time())
        self._stack.append(rec)
        saved = {k: self.sc.getLocalProperty(k) for k in _GROUP_PROPS}
        group = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(group, name)
        try:
            yield rec["counters"]
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            for key, value in saved.items():
                self.sc.setLocalProperty(key, value)
            rec["counters"].update(group_counters(self.sc, group))
            rec["counters"]["wall_s"] = rec["end"] - rec["start"]

    def record(self, name: str, start: float, end: float, counters: dict) -> None:
        """A span measured elsewhere, e.g. by the streaming engine."""
        rec = self._open(name, start)
        rec["end"] = end
        rec["counters"] = {**counters, "wall_s": end - start}

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)
