"""Span recording and Spark-side counters for the traced run, plus the
process-tree CPU and memory probes every run uses.

Spans are recorded here, in the benchmark's own files, around each call
into a layer of the package: name, start, end, parent span and request
id. They are kept in memory and written out once, at the end of a run.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. Spans nest by call order: a span opened
    while another is open records it as its parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "request": request,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _status_stages(sc):
    store = sc._jsc.sc().statusStore()
    # stageList(statuses, details, withSummaries, unsortedQuantiles, taskStatus)
    seq = store.stageList(
        sc._jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(sc._jvm.double, 0),
        sc._jvm.java.util.ArrayList(),
    )
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def job_group_stats(sc, group: str) -> dict:
    """Work done by every job run under Spark job group ``group``: job
    and stage counts from ``statusTracker()`` (stages that ran at least
    one task; skipped stages are not counted), and task CPU, shuffle
    write bytes and input records from the app status store."""
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    ran = set()
    for sid in stage_ids:
        st = tracker.getStageInfo(sid)
        if st is not None and st.numCompletedTasks > 0:
            ran.add(sid)
    cpu_ns = shuffle = records = 0
    for st in _status_stages(sc):
        if st.stageId() in ran:
            cpu_ns += st.executorCpuTime()
            shuffle += st.shuffleWriteBytes()
            records += st.inputRecords()
    return {"jobs": len(jobs), "stages": len(ran), "task_cpu_s": cpu_ns / 1e9,
            "shuffle_bytes": shuffle, "input_records": records}


def jit_compile_s(sc) -> float:
    """Time the JVM's JIT compilers have spent since the JVM started."""
    bean = sc._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return bean.getTotalCompilationTime() / 1e3


@contextmanager
def job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _children() -> dict:
    """``{ppid: [pid, ...]}`` over every process visible in /proc."""
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    """CPU time (user + system, all threads, exited ones included) of one
    process, 0 once it is gone. The kernel of a guest with steal-time
    accounting leaves out the time the hypervisor gave the vCPU to other
    guests, which wall time on a shared host includes."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / CLK_TCK
    except (OSError, IndexError, ValueError):
        return 0.0


def tree_cpu_s(pids: list[int]) -> float:
    return sum(cpu_s(p) for p in pids)


def peak_rss_kb(pid: int) -> int:
    """``VmHWM`` (peak resident set) of one process, 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the peak resident sets of ``root`` and its descendants —
    for a PySpark driver, its Python process plus its JVM."""
    return sum(peak_rss_kb(p) for p in tree_pids(root)) / 1024.0
