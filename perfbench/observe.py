"""Benchmark-side observation: spans, Spark status-store reads, peak
memory, and stopping the processes a run started.

Nothing here runs inside the engine. Spans wrap the benchmark's own calls
into each layer's public function. Spark metrics are read from the
driver's status store (``spark.ui.enabled=false`` keeps it populated),
which runs no Spark job.
"""

from __future__ import annotations

import ctypes
import json
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (id, name, parent, start, end, attrs), written out
    once at the end. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans}, fh)


class SparkStatus:
    """Reads per-call Spark metrics from the status store.

    :meth:`group` sets a job group around one benchmark call and records
    the job-id window the call used. Jobs started from the engine's own
    thread pools (the overlapped lineage batches) do not inherit the
    caller's job group, so a window holds the call's labelled jobs plus
    the unlabelled ones; the benchmark runs one call at a time, so nothing
    else can land in it.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._empty = gw.jvm.java.util.ArrayList()
        self._no_q = gw.new_array(gw.jvm.double, 0)
        self._q = gw.new_array(gw.jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0

    def last_job_id(self) -> int:
        jobs = self.store.jobsList(None)      # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    @contextmanager
    def group(self, label: str):
        """Run the body under job group ``label``; yields a dict that gets
        ``jobs`` (list of job ids) when the body ends."""
        rec = {"label": label}
        first = self.last_job_id() + 1
        self.sc.setJobGroup(label, label)
        try:
            yield rec
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            rec["jobs"] = list(range(first, self.last_job_id() + 1))

    def job_groups(self, job_ids) -> set:
        out = set()
        for jid in job_ids:
            g = self.store.job(jid).jobGroup()
            out.add(g.get() if g.isDefined() else None)
        return out

    def stage_metrics(self, job_ids) -> dict:
        """Summed metrics of the stages that ran (skipped ones excluded)
        for ``job_ids``, plus the task skew of the widest stage."""
        seen = set()
        tot = dict(stages=0, tasks=0, run_ms=0, cpu_ns=0, input_b=0,
                   shuffle_write_b=0, shuffle_read_b=0, fetch_wait_ms=0,
                   spill_b=0)
        widest = None
        for jid in job_ids:
            sids = self.store.job(jid).stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self.store.stageData(sid, False, self._empty,
                                                False, self._no_q)
                for a in range(attempts.size()):
                    s = attempts.apply(a)
                    if s.status().toString() != "COMPLETE":
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += s.numCompleteTasks()
                    tot["run_ms"] += s.executorRunTime()
                    tot["cpu_ns"] += s.executorCpuTime()
                    tot["input_b"] += s.inputBytes()
                    tot["shuffle_write_b"] += s.shuffleWriteBytes()
                    tot["shuffle_read_b"] += s.shuffleReadBytes()
                    tot["fetch_wait_ms"] += s.shuffleFetchWaitTime()
                    tot["spill_b"] += s.diskBytesSpilled()
                    key = (s.numCompleteTasks(), s.executorRunTime())
                    if widest is None or key > widest[0]:
                        widest = (key, s.stageId(), s.attemptId())
        tot["task_skew"] = self._skew(widest) if widest else 1.0
        return tot

    def _skew(self, widest) -> float:
        summ = self.store.taskSummary(widest[1], widest[2], self._q)
        if not summ.isDefined():
            return 1.0
        rt = summ.get().executorRunTime()
        med, top = rt.apply(0), rt.apply(1)
        return top / med if med > 0 else 1.0

    def scan_bytes(self, job_ids, fmt: str, location: str) -> float:
        """Bytes the ``fmt`` file scans over ``location`` planned to read in
        the SQL executions that ran ``job_ids`` (the scan node's "size of
        files read" metric)."""
        wanted = set(job_ids)
        total = 0.0
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            keys = ex.jobs().keySet().toString()      # "Set(3, 4)"
            ids = {int(x) for x in keys[4:-1].split(",") if x.strip()}
            if not ids & wanted:
                continue
            values = self.sql.executionMetrics(ex.executionId())
            nodes = self.sql.planGraph(ex.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if (f"Scan {fmt}" not in node.name()
                        or location not in node.desc()):
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    if ms.apply(m).name() == "size of files read":
                        v = values.get(ms.apply(m).accumulatorId())
                        if v.isDefined():
                            total += _parse_size(v.get())
        return total


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}


def _parse_size(text: str) -> float:
    """'1983.1 KiB' -> bytes (Spark's formatted size metric)."""
    num, unit = text.strip().split()[:2]
    return float(num) * _UNITS[unit]


class PssSampler:
    """Peak summed proportional set size (PSS) of this process and all its
    descendants (driver, JVM, Python workers), sampled from /proc every
    ``period`` seconds. PSS splits a page shared by forked workers among
    them, so the sum counts it once where summed RSS would count it in
    every worker. One sample reads every process's page tables (tens of
    ms for the JVM), hence the long period."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_pss(self) -> int:
        parent = {pid: ppid for pid, (_, ppid) in _proc_table().items()}
        total = 0
        for pid in [os.getpid(), *_descendants(parent)]:
            try:
                with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                    for line in fh:
                        if line.startswith(b"Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        return total

    def _run(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_pss())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_pss())


def _proc_table() -> dict[int, tuple[bytes, int]]:
    """pid -> (state, ppid) of every process in /proc."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the comm field may hold spaces; state and ppid follow its ')'
        state, ppid = stat[stat.rindex(b")") + 2:].split()[:2]
        table[int(name)] = (state, int(ppid))
    return table


def _descendants(parent: dict[int, int]) -> list[int]:
    """Pids below this process in the ``pid -> ppid`` map."""
    root = os.getpid()
    out = []
    for pid in parent:
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root and pid != root:
            out.append(pid)
    return out


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of any descendant whose own parent
    ends first (a Python worker outliving the JVM), so that
    :func:`stop_descendants` still finds it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def stop_descendants(grace: float = 20.0) -> None:
    """Stop every process started below this one and wait until each has
    ended: SIGTERM, then SIGKILL to whatever is left after ``grace``
    seconds. Returns once this process has no child left, live or not."""
    kill_at = time.monotonic() + grace
    termed: set[int] = set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        table = _proc_table()
        live = [pid for pid in _descendants(
                    {pid: ppid for pid, (_, ppid) in table.items()})
                if table[pid][0] != b"Z"]
        late = time.monotonic() >= kill_at
        for pid in live:
            if late or pid not in termed:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                termed.add(pid)
        time.sleep(0.05)


def median(values) -> float:
    return statistics.median(values) if values else 0.0
