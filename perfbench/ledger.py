"""Process-tree accounting from /proc and the traced run's span ledger.

``tree`` reads CPU time for a process and all of its descendants
(Python driver, JVM, Python workers) and ``pss_bytes`` their resident
memory, straight from /proc, so the benchmark needs nothing beyond the
standard library to measure them.

``Tracer`` records one span per call into a public gratum_spark layer,
made from the benchmark's own code around that call. At every span
boundary it snapshots the process tree; at the end of each iteration it
reads the stages and jobs Spark ran from the AppStatusStore (the UI is
off) and assigns each to the innermost span that was open when Spark
submitted it.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager, nullcontext

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _procs() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(name)] = (int(fields[1]), comm, ticks / CLK_TCK)
    return out


def tree(root: int) -> dict[int, tuple[int, str, float]]:
    """The /proc entries of ``root`` and its descendants."""
    procs = _procs()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    found, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            found[pid] = procs[pid]
            todo.extend(kids.get(pid, ()))
    return found


def pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid``: its resident memory with each
    page shared between processes split among them. Summed over a tree
    it counts a forked child (a Python worker, or a JVM thread between
    fork and exec) once, where summed RSS counts its shared pages twice.
    0 once the process is gone."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def cpu_split(root: int) -> dict[str, float]:
    """CPU seconds of the tree, and of two of its parts: the Python
    driver (``root`` itself, without reaped children) and the Python
    worker processes that the JVM forked."""
    t = tree(root)
    with open(f"/proc/{root}/stat") as f:
        raw = f.read()
    own = sum(int(x) for x in raw[raw.rindex(")") + 2 :].split()[11:13]) / CLK_TCK
    jvm = {pid for pid, (_pp, comm, _c) in t.items() if comm == "java"}
    workers = 0.0
    for pid, (ppid, comm, cpu) in t.items():
        p = ppid
        while p in t and p not in jvm:
            p = t[p][0]
        if p in jvm and comm.startswith("python"):
            workers += cpu
    return {
        "tree": sum(v[2] for v in t.values()),
        "driver": own,
        "py_workers": workers,
    }


class NoTrace:
    """Stands in for Tracer in untraced runs: spans cost nothing."""

    active = False
    overhead_s = 0.0
    iteration = 0

    def span(self, name: str):
        return nullcontext()


class Tracer:
    """Spans kept in memory, plus the Spark ledger attributed to them.

    A span is (name, start, end, parent, workload, iteration) with a
    /proc snapshot at each end. ``overhead_s`` is the time the tracer
    itself spent inside the timed region."""

    active = True
    LEDGER = ("executor_cpu_s", "executor_run_s", "shuffle_write_mb", "spill_mb",
              "gc_s", "tasks", "stages", "jobs", "input_mb")

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.iteration = 0
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.overhead_s = 0.0
        self._last_stage = -1
        self._last_job = -1

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        rec = {
            "name": name, "workload": self.workload, "iteration": self.iteration,
            "parent": self.stack[-1] if self.stack else None,
            "cpu0": cpu_split(os.getpid()),
        }
        rec["start"] = time.time()
        self.spans.append(rec)
        self.stack.append(len(self.spans) - 1)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            rec["end"] = time.time()
            t1 = time.perf_counter()
            rec["cpu1"] = cpu_split(os.getpid())
            self.stack.pop()
            self.overhead_s += time.perf_counter() - t1

    def collect(self) -> tuple[dict[str, dict[str, float]], int]:
        """Read the stages and jobs that ran since the last call and sum
        their ledger per span of the current iteration (self ledger: a
        stage counts only toward the innermost span open at its
        submission). Stages outside every span count toward "other".
        Also returns the bytes of cached blocks (memory + disk) held now."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # the status store is fed by the listener bus: drain it so the
        # last stages of the iteration are complete in the store
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm, gw = sc._jvm, sc._gateway
        spans = [s for s in self.spans if s["iteration"] == self.iteration]
        acc: dict[str, dict[str, float]] = {}

        def owner(ms: float) -> str:
            best = None
            for s in spans:
                if s["start"] * 1000 <= ms <= s["end"] * 1000:
                    best = s  # later spans nest inside earlier ones
            return best["name"] if best else "other"

        def slot(name: str) -> dict[str, float]:
            return acc.setdefault(name, dict.fromkeys(self.LEDGER, 0.0))

        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        it, top = stages.iterator(), self._last_stage
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            top = max(top, sid)
            sub = s.submissionTime()
            if str(s.status().toString()) != "COMPLETE" or not sub.isDefined():
                continue
            d = slot(owner(sub.get().getTime()))
            d["executor_cpu_s"] += s.executorCpuTime() / 1e9
            d["executor_run_s"] += s.executorRunTime() / 1e3
            d["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            d["spill_mb"] += (s.diskBytesSpilled() + s.memoryBytesSpilled()) / 1e6
            d["gc_s"] += s.jvmGcTime() / 1e3
            d["tasks"] += s.numCompleteTasks()
            d["stages"] += 1
            d["input_mb"] += s.inputBytes() / 1e6
        self._last_stage = top
        jobs = store.jobsList(jvm.java.util.ArrayList())
        it, top = jobs.iterator(), self._last_job
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid <= self._last_job:
                break
            top = max(top, jid)
            sub = j.submissionTime()
            if sub.isDefined():
                slot(owner(sub.get().getTime()))["jobs"] += 1
        self._last_job = top
        cached = sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo())
        return acc, cached

    def iteration_spans(self) -> list[dict]:
        """Spans of the current iteration with wall, self time and CPU
        deltas; self time is the span's duration minus the part of it
        covered by its direct children."""
        base = [i for i, s in enumerate(self.spans) if s["iteration"] == self.iteration]
        out = []
        for i in base:
            s = self.spans[i]
            wall = s["end"] - s["start"]
            kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == i)
            parent = s["parent"]
            out.append({
                "name": s["name"], "wall_s": wall, "self_s": wall - kids,
                "parent": None if parent is None else self.spans[parent]["name"],
                "py_workers_cpu_s": s["cpu1"]["py_workers"] - s["cpu0"]["py_workers"],
                "driver_cpu_s": s["cpu1"]["driver"] - s["cpu0"]["driver"],
            })
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [{k: v for k, v in s.items() if k not in ("cpu0", "cpu1")} for s in self.spans],
                f,
            )
