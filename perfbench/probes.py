"""Measurement helpers: spans, a /proc memory sampler and Spark counters."""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A span records its name, start, end, parent span and the iteration
    it belongs to.  A disabled tracer records nothing and costs one
    branch per span, so the untraced loop runs the same code.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.iteration = 0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "iteration": self.iteration,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - child[s["id"]])
        return out


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # process ended between listdir and open
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendant_pss(root: int) -> dict[str, int]:
    """Proportional resident bytes of the descendants of ``root``, by
    command name (``java``, ``python3``, ...).

    PSS, not RSS: forked Python workers share most of their pages with
    the worker daemon, and summing RSS would count those pages once per
    worker."""
    kids = children_map()
    out: dict[str, int] = {}
    todo = list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        out[comm] = out.get(comm, 0) + int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # process ended while being read
    return out


class MemorySampler:
    """Background thread tracking the peak resident memory (PSS) of the
    processes this one starts: the JVM and its Python workers.  This
    process itself also holds the benchmark's inputs and checks, so it
    is left out.  One sample reads every descendant's ``smaps_rollup``
    (10–20 ms against a 1 GB JVM) on a thread of the process that drives
    the engine, so it samples twice a second, not more often."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)

    def _sample(self) -> None:
        parts = descendant_pss(os.getpid())
        total = sum(parts.values())
        if total > self.peak:
            self.peak, self.at_peak = total, parts

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


_EXCHANGE = re.compile(r"^[\s:+\-|]*(Exchange|BroadcastExchange)\b")


def count_exchanges(plan: str) -> int:
    """Exchange operators in an executed plan's tree (AQE: final plan)."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return sum(1 for line in tree.splitlines() if _EXCHANGE.match(line))


class SparkCounters:
    """Jobs, stages, tasks and exchanges run by each operation.

    Each operation runs in its own job group; the SQL status store gives
    the executions it started and their executed plans.  Both stores
    are filled by Spark's listener bus, which ``collect`` drains first.
    """

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.ops: list[dict] = []

    @contextmanager
    def op(self, kind: str):
        group = f"perfbench-{len(self.ops)}"
        rec = {"kind": kind, "group": group, "sql_from": self._sql.executionsCount()}
        self.ops.append(rec)
        self.sc.setJobGroup(group, kind)
        try:
            yield
        finally:
            rec["sql_to"] = self._sql.executionsCount()

    def collect(self) -> None:
        """Fill each recorded op with its counts (call once, at the end)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for rec in self.ops:
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stages = {s for j in jobs for s in (tracker.getJobInfo(j).stageIds or ())}
            infos = [tracker.getStageInfo(s) for s in stages]
            infos = [i for i in infos if i is not None]
            rec["jobs"] = len(jobs)
            rec["stages"] = len(infos)
            rec["tasks"] = sum(i.numTasks for i in infos)
            rec["tasks_failed"] = sum(i.numFailedTasks for i in infos)
            n = rec["sql_to"] - rec["sql_from"]
            execs = self._sql.executionsList(rec["sql_from"], n) if n > 0 else None
            rec["exchanges"] = sum(
                count_exchanges(execs.apply(i).physicalPlanDescription()) for i in range(n)
            )
