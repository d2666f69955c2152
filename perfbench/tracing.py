"""Observation helpers for the engine benchmark.

Everything here watches the program from outside the package:

- ``SpanRecorder`` keeps spans (name, start, end, parent, run id) in
  memory around calls into the package's public functions;
- ``plan_rollup`` walks an executed physical plan (AQE final plan, query
  stages, reused exchanges) and sums node metrics into layer names;
- ``TreeSampler`` samples the resident memory of this process tree
  (this Python process, the JVM, the Python workers) from ``/proc``, and
  ``tree_cpu_s`` reads the tree's CPU time;
- ``JvmProbe`` reads GC time and heap peaks through the JVM's
  management beans over py4j.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict

# ---------------------------------------------------------------- spans


class SpanRecorder:
    """In-memory spans; nested ``span`` calls record their parent."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


# ------------------------------------------------------- plan metrics

# nodes that wrap the plan that actually ran
_STAGES = {
    "ShuffleQueryStageExec",
    "BroadcastQueryStageExec",
    "TableCacheQueryStageExec",
    "ResultQueryStageExec",
}
_SCANS = {"FileSourceScanExec", "BatchScanExec", "RowDataSourceScanExec"}
_CODEGEN_FRAME = {"WholeStageCodegenExec", "InputAdapter"}


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def _rows_below(node) -> int:
    """numOutputRows of the nearest descendant that counts rows: the
    rows fed into a Python node."""
    stack = [node]
    while stack:
        n = stack.pop()
        ch = n.children()
        it = ch.iterator()
        kids = []
        while it.hasNext():
            kids.append(it.next())
        for k in kids:
            cls = k.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                k = k.finalPhysicalPlan()
            elif cls in _STAGES:
                k = k.plan()
            m = _metrics(k)
            if "numOutputRows" in m:
                return int(m["numOutputRows"])
            stack.append(k)
    return 0


def plan_rollup(plan, jvm) -> dict[str, float]:
    """Sum the executed plan's node metrics into layer totals.

    Descends into AQE's final plan, each query stage's ``.plan()`` and
    ``ReusedExchange`` children; a node reached twice (a reused
    exchange) is counted once.  Times are milliseconds."""
    codegen = jvm.java.lang.Class.forName("org.apache.spark.sql.execution.CodegenSupport")
    out: dict[str, float] = defaultdict(float)
    seen: set[int] = set()
    stack = [(plan, False)]
    while stack:
        node, in_codegen = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append((node.finalPhysicalPlan(), in_codegen))
            continue
        if cls in _STAGES:
            stack.append((node.plan(), False))
            continue
        if cls == "ReusedExchangeExec":
            stack.append((node.child(), False))
            continue
        nid = node.id()
        if nid in seen:
            continue
        seen.add(nid)
        m = _metrics(node)
        if cls in _SCANS:
            out["scan.rows"] += m.get("numOutputRows", 0)
            out["scan.time_ms"] += m.get("scanTime", 0)
        elif cls == "ShuffleExchangeExec":
            out["shuffle.bytes_written"] += m.get("shuffleBytesWritten", m.get("dataSize", 0))
            out["shuffle.records"] += m.get("shuffleRecordsWritten", 0)
            out["shuffle.write_ms"] += m.get("shuffleWriteTime", 0) / 1e6  # ns
        elif cls == "BroadcastExchangeExec":
            out["broadcast.bytes"] += m.get("dataSize", 0)
        elif cls.endswith("JoinExec"):
            out["join.rows"] += m.get("numOutputRows", 0)
        if "pythonDataSent" in m:
            out["arrow.bytes_sent"] += m["pythonDataSent"]
            out["arrow.bytes_recv"] += m.get("pythonDataReceived", 0)
            out["arrow.rows_recv"] += m.get("pythonNumRowsReceived", 0)
            out["arrow.rows_sent"] += _rows_below(node)
            out["arrow.python_ms"] += m.get("pythonTotalTime", 0)
            out["arrow.boot_ms"] += m.get("pythonBootTime", 0)
        out["shuffle.spill_bytes"] += m.get("spillSize", 0)
        if not in_codegen and cls not in _CODEGEN_FRAME and codegen.isInstance(node):
            out["plan.non_codegen_nodes"] += 1
        if cls == "WholeStageCodegenExec":
            child_codegen = True
        elif cls == "InputAdapter":
            child_codegen = False
        else:
            child_codegen = in_codegen
        it = node.children().iterator()
        while it.hasNext():
            stack.append((it.next(), child_codegen))
    return dict(out)


class Tracer:
    """Per-pass layer values: spans around layer calls, lazy results run
    to a discarding sink, and executed-plan rollups of checked actions."""

    def __init__(self, spans: SpanRecorder, jvm):
        self.spans = spans
        self.jvm = jvm
        self.values: dict[str, float] = defaultdict(float)
        self.last: dict[str, float] = {}

    def span(self, name: str, **attrs):
        return self.spans.span(name, **attrs)

    def add(self, name: str, value: float) -> None:
        self.values[name] += value

    def plan(self, df) -> dict[str, float]:
        """Layer totals of ``df``'s own executed plan (after it ran)."""
        return plan_rollup(df._jdf.queryExecution().executedPlan(), self.jvm)

    def rollup(self, df) -> None:
        """Add ``df``'s executed-plan totals to this pass's layer values."""
        self.last = self.plan(df)
        for k, v in self.last.items():
            self.values[k] += v

    def materialize(self, df, rollup: bool = False) -> int:
        """Compute every row of ``df`` and keep none (a noop sink that,
        unlike ``write.format('noop')``, runs ``df``'s own query
        execution, so its plan metrics can be read afterwards)."""
        n = int(df._jdf.queryExecution().toRdd().count())
        if rollup:
            self.rollup(df)
        return n


# ------------------------------------------------------ memory and JVM


def _proc_table(rss: bool = True) -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, rss bytes, CPU ticks) for every visible
    process; the ticks are user + system time of the process and of the
    children it reaped.  With ``rss`` False the rss reads 0."""
    page = os.sysconf("SC_PAGE_SIZE")
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            resident = 0
            if rss:
                with open(f"/proc/{d}/statm") as f:
                    resident = int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listdir and open
        comm = stat[stat.find("(") + 1 : stat.rfind(")")]
        fields = stat[stat.rfind(")") + 2 :].split()
        ticks = sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
        table[int(d)] = (int(fields[1]), comm, resident, ticks)
    return table


def _tree(table: dict, root: int):
    """``root`` and its descendants that are in ``table``."""
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, row in table.items():
        kids[row[0]].append(pid)
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            yield table[pid]
            stack.extend(kids[pid])


def tree_rss(root: int) -> tuple[int, int]:
    """(total, python-only) resident bytes of ``root`` and its descendants."""
    total = py = 0
    for _, comm, rss, _ in _tree(_proc_table(), root):
        total += rss
        if comm.startswith("python"):
            py += rss
    return total, py


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds ``root`` and its descendants (the JVM, the Python
    workers) have used.  The kernel leaves out time the hypervisor gave
    to other guests, so this grows far less than wall time when the host
    is busy.  A Python worker that exits takes its time with it (the
    pyspark daemon ignores SIGCHLD, so nothing reaps it into cutime);
    the workers live through a whole run."""
    return sum(row[3] for row in _tree(_proc_table(rss=False), root)) / _TICK


def host_steal() -> tuple[int, int]:
    """(all, stolen) CPU ticks of this machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


class TreeSampler:
    """Background sampler of this process tree's RSS.  ``reset`` opens
    a window; ``peak`` returns the window's (total, python) peaks in MB."""

    def __init__(self, interval: float = 0.2):
        self._interval = interval
        self._lock = threading.Lock()
        self._peak = (0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            total, py = tree_rss(root)
            with self._lock:
                self._peak = (max(self._peak[0], total), max(self._peak[1], py))
            self._stop.wait(self._interval)

    def reset(self) -> None:
        with self._lock:
            self._peak = (0, 0)

    def peak(self) -> tuple[float, float]:
        with self._lock:
            total, py = self._peak
        return total / 2**20, py / 2**20

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class JvmProbe:
    """GC time and heap-pool peaks of the JVM (local mode: the executors
    live in the same JVM)."""

    def __init__(self, jvm):
        mf = jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap = [
            p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"
        ]

    def gc_ms(self) -> int:
        return sum(max(b.getCollectionTime(), 0) for b in self._gcs)

    def reset_peak(self) -> None:
        for p in self._heap:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        """Sum of the heap pools' peak usage since ``reset_peak``."""
        return sum(p.getPeakUsage().getUsed() for p in self._heap) / 2**20
