"""Measurement helpers: process-tree CPU, Spark per-stage metrics and spans.

CPU is read from ``/proc``.  A sample process owns a tree: the driver
Python process, the JVM it launched, and the Python workers the JVM forks
(the pyspark daemon and its children).  For every process in the tree we
sum ``utime + stime + cutime + cstime``: without the two child fields the
total drops whenever a Python worker exits and is reaped.

Spark's own accounting comes from the JVM status store, reached through
Py4J.  On Spark 4.1 ``statusStore().stageList(None)`` does not resolve, so
stages are found per job: ``statusTracker().getJobIdsForGroup`` →
``statusStore().job(id).stageIds()`` → ``lastStageAttempt(sid)``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stats() -> dict[int, tuple[int, str, list[int]]]:
    """pid -> (ppid, comm, [utime, stime, cutime, cstime]) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # exited between listdir and open
            continue
        comm = raw[raw.find("(") + 1: raw.rfind(")")]
        fields = raw[raw.rfind(")") + 2:].split()
        out[int(name)] = (int(fields[1]), comm,
                          [int(x) for x in fields[11:15]])
    return out


def tree_cpu(root: int | None = None) -> dict[str, float]:
    """CPU seconds of the process tree under ``root`` (default: this process),
    split into the driver, the JVM's own threads and the Python workers."""
    root = os.getpid() if root is None else root
    stats = _read_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)

    def subtree(pid: int) -> float:
        u, s, cu, cs = stats[pid][2]
        return u + s + cu + cs + sum(subtree(c) for c in children.get(pid, ()))

    u, s, cu, cs = stats[root][2]
    driver, jvm, workers = u + s + cu + cs, 0, 0
    for pid in children.get(root, ()):
        if stats[pid][1] == "java":
            ju, js, jcu, jcs = stats[pid][2]
            jvm += ju + js
            workers += jcu + jcs + sum(subtree(c) for c in children.get(pid, ()))
        else:
            driver += subtree(pid)
    return {"driver_py": driver / _TICK, "jvm": jvm / _TICK,
            "pyworkers": workers / _TICK,
            "total": (driver + jvm + workers) / _TICK}


class StageMeter:
    """Collects the Spark jobs that ran inside a ``with meter.span(...)``
    (spans nest: an enclosing span also counts its children's jobs, and its
    ``overhead_s`` is the time its children spent on their own bookkeeping).

    Jobs are attributed by job id: the ids known after the span minus those
    known before it.  The commit pool of ``plans.wave.crawl`` runs jobs on
    threads that do not inherit the span's job group, so ungrouped jobs are
    collected too; operations run one at a time, so nothing else is in flight.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self._groups: list[str] = []   # every group a span has used
        self._open: list[tuple[str, dict]] = []  # (group, record) of open spans

    def _known_jobs(self) -> set[int]:
        tracker = self.sc.statusTracker()
        ids = set(tracker.getJobIdsForGroup(None))
        for g in self._groups:
            ids |= set(tracker.getJobIdsForGroup(g))
        return ids

    def _drain(self) -> None:
        # stage metrics reach the status store through the listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def _stages(self, job_ids) -> dict:
        from py4j.protocol import Py4JJavaError

        store = self._jsc.statusStore()
        agg = {"jobs": 0, "stages": 0, "task_cpu_s": 0.0, "input_bytes": 0,
               "shuffle_bytes": 0}
        seen_stages = set()
        for jid in sorted(job_ids):
            agg["jobs"] += 1
            stage_ids = store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage that never ran has no attempt
                    continue
                if st.numCompleteTasks() == 0:
                    continue  # skipped (its output was reused)
                agg["stages"] += 1
                agg["task_cpu_s"] += (st.executorCpuTime()
                                      + st.executorDeserializeCpuTime()) / 1e9
                agg["input_bytes"] += st.inputBytes()
                agg["shuffle_bytes"] += st.shuffleWriteBytes()
        return agg

    @contextmanager
    def span(self, name: str):
        """Time the block; on exit record wall, CPU split and stage metrics."""
        t_enter = time.perf_counter()
        group = f"perfbench-{len(self._groups)}"
        self._groups.append(group)
        self._drain()
        before = self._known_jobs()
        parent = self._open[-1][1] if self._open else None
        rec: dict = {"name": name, "parent": parent and parent["name"],
                     "overhead_s": 0.0}
        self._open.append((group, rec))
        self.sc.setJobGroup(group, name)
        cpu0, t0 = tree_cpu(), time.perf_counter()
        rec["start"] = t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            cpu1 = tree_cpu()
            self._open.pop()
            if self._open:  # back to the enclosing span's group
                self.sc.setJobGroup(self._open[-1][0], self._open[-1][1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._drain()
            rec.update(self._stages(self._known_jobs() - before))
            rec["wall_s"] = rec["end"] - t0
            for k in ("driver_py", "jvm", "pyworkers", "total"):
                rec[f"{k}_cpu_s"] = cpu1[k] - cpu0[k]
            rec["jvm_outside_tasks_cpu_s"] = rec["jvm_cpu_s"] - rec["task_cpu_s"]
            self.spans.append(rec)
            if parent is not None:
                parent["overhead_s"] += (t0 - t_enter
                                         + time.perf_counter() - rec["end"])
