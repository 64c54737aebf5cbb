"""Driver spans, Spark SQL metrics per layer, and process memory.

Nothing here reaches inside the program: spans wrap the benchmark's own
calls into each layer's public functions, SQL metrics are read back from
Spark's status store after an op, and memory comes from ``/proc``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans ``(name, start, end, parent, op)``; written once at
    the end of the run. Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def children(self, parent: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == parent]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------- SQL metrics

# Spark renders an aggregated metric as one value ("1,024", "8 ms") or as
# "total (min, med, max ...)\n<total> (<min>, ...)"; the total comes first.
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
_SCALE = {"": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
          "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


# exec node name -> layer, for nodes whose metrics the ledger reads
def node_layer(name: str, operator_layer: str) -> str | None:
    if name.startswith("Scan "):
        return "sources"
    if name == "MapInPandas":
        return operator_layer
    if "Python" in name or name == "AggregateInPandas":
        return "functions.udfs"
    if name == "Exchange":
        return "shuffle"
    return None


_NODE_METRICS = {
    "sources": {"scan time": "scan_s", "size of files read": "scan_bytes"},
    "python": {"time to start Python workers": "python_boot_s",
               "time to initialize Python workers": "python_init_s",
               "time to run Python workers": "python_run_s",
               "data sent to Python workers": "arrow_sent_bytes",
               "data returned from Python workers": "arrow_recv_bytes",
               "number of output rows": "output_rows"},
    "shuffle": {"shuffle bytes written": "bytes_written",
                "shuffle write time": "write_s",
                "fetch wait time": "fetch_wait_s"},
}


class SqlMetrics:
    """Reads per-exec-node SQL metrics of the executions an op started
    from ``sharedState().statusStore()`` and sums them per layer."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        self.seen = self._max_id()

    def _max_id(self) -> int:
        ids = [e.executionId() for e in _seq(self.store.executionsList())]
        return max(ids) if ids else -1

    def collect(self, operator_layer: str) -> dict[str, float]:
        """Layer sums over executions started since the last call."""
        self.bus.waitUntilEmpty()
        out: dict[str, float] = {}
        last = self.seen
        for e in _seq(self.store.executionsList()):
            eid = e.executionId()
            if eid <= self.seen:
                continue
            last = max(last, eid)
            values = self.store.executionMetrics(eid)
            for node in _seq(self.store.planGraph(eid).allNodes()):
                layer = node_layer(node.name(), operator_layer)
                if layer is None:
                    continue
                names = _NODE_METRICS["python" if layer not in
                                      ("sources", "shuffle") else layer]
                for m in _seq(node.metrics()):
                    key = names.get(m.name())
                    v = values.get(m.accumulatorId())
                    if key is None or not v.isDefined():
                        continue
                    k = f"{layer}.{key}"
                    out[k] = out.get(k, 0.0) + parse_metric(v.get())
        self.seen = last
        return out


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) run under one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


def cpu_times() -> list[int]:
    """Machine-wide CPU tick counters (user .. steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


# ------------------------------------------------------------------ memory

def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class ProcSampler:
    """Samples the driver, the JVM and the ``pyspark.daemon`` worker tree.
    At each sample it adds up ``VmHWM`` over the processes alive then;
    the peak is the largest such sum. That bounds the simultaneous peak
    from above (each process's own peak, pages shared copy-on-write with
    the daemon counted per process) and misses processes that live less
    than one sampling interval. Also records the first time each Python
    worker pid was seen."""

    def __init__(self, jvm_pid: int | None, interval: float):
        self.roots = [os.getpid()] + ([jvm_pid] if jvm_pid else [])
        self.interval = interval
        self.peak: dict[int, int] = {}     # pid -> VmHWM at the peak sample
        self.workers: dict[int, float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "ProcSampler":
        self.sample()
        self._thread.start()
        return self

    def sample(self) -> None:
        kids = _children()
        now = time.perf_counter()
        pids = {p for r in self.roots for p in _tree(r, kids)}
        hwm = {p: _status_kb(p, "VmHWM:") for p in pids}
        with self._lock:
            if sum(hwm.values()) > sum(self.peak.values()):
                self.peak = hwm
            for p in pids:
                if p not in self.workers and _is_python_worker(p):
                    self.workers[p] = now

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def peak_mb(self) -> float:
        with self._lock:
            return sum(self.peak.values()) / 1024.0

    def breakdown(self) -> dict:
        """The peak sample split into the driver, the JVM and the rest
        (the Python worker tree)."""
        with self._lock:
            own = [self.peak.get(p, 0) / 1024.0 for p in self.roots]
            rest = [kb / 1024.0 for p, kb in self.peak.items()
                    if p not in self.roots]
        return {"driver_mb": own[0], "jvm_mb": sum(own[1:]),
                "other_mb": sum(rest), "other_pids": len(rest)}

    def workers_seen_between(self, t0: float, t1: float) -> int:
        with self._lock:
            return sum(1 for t in self.workers.values() if t0 <= t <= t1)
