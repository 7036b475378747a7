"""Measurement probes: process tree, host load, Spark SQL metrics, spans.

psutil is not available, so the process tree is read from ``/proc``: the
benchmark process, the JVM it launches and the JVM's Python workers.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional, Tuple

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> Optional[List[str]]:
    """Fields of ``/proc/<pid>/stat`` from ``state`` on (field 3 onward)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process ended
        return None
    return data[data.rindex(")") + 2:].split()


class ProcTree:
    """The process tree rooted at one pid, read from ``/proc``."""

    def __init__(self, root: int) -> None:
        self.root = root

    def pids(self) -> List[int]:
        children: Dict[int, List[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    children.setdefault(int(st[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """User + system CPU of every live process in the tree, including
        the children each has reaped."""
        total = 0
        for pid in self.pids():
            st = _stat(pid)
            if st is not None:
                total += sum(int(v) for v in st[11:15])
        return total / _CLK

    def rss(self) -> Tuple[int, int]:
        """→ (resident bytes summed over the tree, live processes)."""
        total, n = 0, 0
        for pid in self.pids():
            st = _stat(pid)
            if st is not None:
                total += int(st[21]) * _PAGE
                n += 1
        return total, n

    def stop_descendants(self, timeout: float = 20.0) -> None:
        """SIGTERM every descendant, SIGKILL what outlives ``timeout``, and
        wait until each has ended."""
        import signal

        pids = [p for p in self.pids() if p != self.root]
        for sig, wait in ((signal.SIGTERM, timeout), (signal.SIGKILL, 5.0)):
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            end = time.monotonic() + wait
            while time.monotonic() < end:
                for pid in pids:  # reap our own children
                    try:
                        os.waitpid(pid, os.WNOHANG)
                    except ChildProcessError:
                        pass
                pids = [p for p in pids if _alive(p)]
                if not pids:
                    return
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


class PeakSampler:
    """Background thread that records the tree's peak RSS while running."""

    def __init__(self, tree: ProcTree, interval: float = 0.1) -> None:
        self.tree, self.interval = tree, interval
        self.peak, self.procs = 0, 0  # procs: tree size at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss, n = self.tree.rss()
        if rss > self.peak:
            self.peak, self.procs = rss, n

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def host_load() -> Dict[str, float]:
    """Load average plus the wall time of a fixed pure-Python loop (median
    of three), so a contended host shows in the run record."""
    def probe() -> float:
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        return (time.perf_counter() - t0) * 1000

    load1, load5, _ = os.getloadavg()
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])  # ticks the hypervisor ran others on our vCPUs
    return {"loadavg_1m": load1, "loadavg_5m": load5,
            "probe_ms": statistics.median(probe() for _ in range(3)),
            "steal_s": steal / _CLK}


# ------------------------------------------------------------ Spark SQL --

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
          "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30, "TiB": 2.0 ** 40}
_QTY = r"([\d.,]+)\s*([A-Za-z]*)"


def _qty(num: str, unit: str) -> float:
    return float(num.replace(",", "")) * _UNITS.get(unit, 1.0)


def parse_metric(text: str) -> Tuple[float, float, float, float]:
    """A status-store metric string → ``(total, min, med, max)`` in
    seconds, bytes or counts. Per-task figures equal the total when Spark
    printed only a total."""
    line = text.strip().splitlines()[-1]
    found = re.findall(_QTY, line)
    vals = [_qty(n, u) for n, u in found if n.strip(".,")]
    total = vals[0] if vals else 0.0
    if len(vals) >= 4:
        return total, vals[1], vals[2], vals[3]
    return total, total, total, total


class SqlMetrics:
    """Reads per-node metrics of finished SQL executions from the session's
    status store (populated with ``spark.ui.enabled=false`` too)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> int:
        return int(self._store.executionsCount())

    def nodes_since(self, mark: int) -> List[Dict]:
        """Every plan node of every execution after ``mark``:
        ``{"execution", "id", "name", "metrics": {metric: (total, min, med, max)}}``.
        Node ids grow from the plan root down, so of two nodes in a
        pipeline the one nearer the output has the smaller id."""
        # the status store is fed by the listener bus, which may still hold
        # the last tasks' metric updates when the action returns
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        count = int(self._store.executionsCount())
        execs = self._store.executionsList(mark, count - mark)
        out = []
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                metrics = {}
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_metric(v.get())
                out.append({"execution": eid, "id": int(node.id()), "name": node.name(),
                            "metrics": metrics})
        return out

    def persisted_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())


def node_sum(nodes: List[Dict], metric: str) -> float:
    """Total of one metric over the nodes that report it."""
    return sum(n["metrics"][metric][0] for n in nodes if metric in n["metrics"])


# ----------------------------------------------------------------- spans --

class Tracer:
    """In-memory spans (name, start, end, parent) written out at the end.
    A disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: List[Dict] = []
        self._stack: List[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Dict]:
        rec: Dict = {"name": name, "attrs": attrs}
        if not self.enabled:
            yield rec
            return
        rec["id"] = len(self.spans)
        rec["parent"] = self._stack[-1] if self._stack else None
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)
