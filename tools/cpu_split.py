"""Per-thread-class CPU split of this session's own process tree.

    python tools/cpu_split.py QUERY [--runs N]
    python tools/cpu_split.py --workload tile_io [--runs N]

Runs a registry query (``tools/registry.py``) N times (default 5) in one
session on ``get_spark``'s default session, or with ``--workload`` one
pass of a perfbench workload's operations per run on perfbench's session
and corpus (its default seed, ``--scale`` 0.0025).  Prints one JSON
line per run as it finishes: {"name", "run", "wall_s", "cpu_s": {class:
CPU-s}, "total_cpu_s"}; a workload run also gives each operation's split
under "ops".  The first runs carry the JVM's warm-up: compare runs of the same
index, or runs after the compiler columns have decayed.

The classes split the tree by thread:

- ``c2``, ``c1``: the JVM's JIT compiler threads;
- ``gc``: its garbage collector threads (``GC Thread#*``, ``G1 *``);
- ``executor``: Spark's executor task threads;
- ``jvm_other``: every other live JVM thread (the VM thread, netty, the
  schedulers, the block manager, ...);
- ``jvm_exited``: the JVM process's CPU minus its live threads', that is
  the CPU of JVM threads that exited during the run.  Compiler threads
  come and go under ``UseDynamicNumberOfCompilerThreads`` and take their
  CPU out of the thread table with them; without this column such a run
  reads a negative C2 delta;
- ``python_workers``: every process below the JVM (the worker daemon and
  its forked workers), per process: a worker that exits during a run
  takes its CPU with it, since nothing reaps it into its parent's
  counters (the workers live through a session);
- ``driver``: this process and any other process below it but not below
  the JVM.

Only ``/proc/<pid>`` entries of this process and its descendants are
read; the tree is walked through ``/proc/<pid>/task/<tid>/children``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CLASSES = ("c2", "c1", "gc", "executor", "jvm_other", "jvm_exited", "python_workers", "driver")
_TICK = os.sysconf("SC_CLK_TCK")


def thread_class(comm: str) -> str:
    """The class of a JVM thread, by its name as ``/proc`` shows it
    (the first 15 bytes)."""
    if comm.startswith("C2 CompilerThre"):
        return "c2"
    if comm.startswith("C1 CompilerThre"):
        return "c1"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    if comm.startswith("Executor task l"):
        return "executor"
    return "jvm_other"


def _stat(path: str) -> tuple[str, int, int] | None:
    """(comm, utime + stime ticks, start time) of a ``stat`` file; None
    when the process or thread has gone."""
    try:
        with open(path) as f:
            text = f.read()
    except OSError:
        return None
    fields = text[text.rfind(")") + 2 :].split()
    return text[text.find("(") + 1 : text.rfind(")")], int(fields[11]) + int(fields[12]), int(fields[19])


def _listdir(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except OSError:
        return []


def _children(pid: int, proc: str) -> list[int]:
    kids = []
    for tid in _listdir(f"{proc}/{pid}/task"):
        try:
            with open(f"{proc}/{pid}/task/{tid}/children") as f:
                kids += [int(k) for k in f.read().split()]
        except OSError:
            continue
    return kids


def snapshot(root: int, proc: str = "/proc") -> dict[tuple, tuple[str, int]]:
    """CPU ticks of ``root``'s process tree: (pid, tid, start) ->
    (class, ticks).  A JVM (a process named ``java``) gives one entry
    per live thread and its process total under class ``jvm`` (tid
    None); every other process gives its process total.  The start time
    in the key keeps a reused pid or tid apart."""
    out = {}
    stack = [(root, False)]
    while stack:
        pid, below_jvm = stack.pop()
        st = _stat(f"{proc}/{pid}/stat")
        if st is None:
            continue
        comm, ticks, start = st
        jvm = comm == "java" and not below_jvm
        if jvm:
            out[(pid, None, start)] = ("jvm", ticks)
            for tid in _listdir(f"{proc}/{pid}/task"):
                t = _stat(f"{proc}/{pid}/task/{tid}/stat")
                if t is not None:
                    out[(pid, int(tid), t[2])] = (thread_class(t[0]), t[1])
        else:
            out[(pid, None, start)] = ("python_workers" if below_jvm else "driver", ticks)
        stack.extend((kid, below_jvm or jvm) for kid in _children(pid, proc))
    return out


def split(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds per class between two snapshots.  A live thread or
    process counts its ticks since ``before`` (all of them if it started
    since); what a JVM's total grew beyond its live threads' share is
    ``jvm_exited``."""
    ticks = dict.fromkeys(CLASSES, 0)
    live = defaultdict(int)  # JVM pid -> its live threads' ticks in the interval
    jvm_total = {}
    for key, (cls, t) in after.items():
        prev = before.get(key)
        d = t - (prev[1] if prev else 0)
        if cls == "jvm":
            jvm_total[key[0]] = d
            continue
        ticks[cls] += d
        if key[1] is not None:
            live[key[0]] += d
    for pid, d in jvm_total.items():
        ticks["jvm_exited"] += d - live[pid]
    return {k: v / _TICK for k, v in ticks.items()}


class Meter:
    """Splits the CPU of this process tree between ``start`` and ``stop``."""

    def start(self) -> None:
        self._t0 = time.perf_counter()
        self._before = snapshot(os.getpid())

    def stop(self) -> dict:
        cpu = split(self._before, snapshot(os.getpid()))
        return {
            "wall_s": round(time.perf_counter() - self._t0, 3),
            "cpu_s": {k: round(v, 2) for k, v in cpu.items()},
            "total_cpu_s": round(sum(cpu.values()), 2),
        }


def _query_runs(name: str, runs: int):
    from tools.registry import DRIVER_QUERIES, QUERIES, Inputs, run
    from ukis_pysat_spark.session import get_spark

    if name not in QUERIES:
        raise SystemExit(f"unknown query name: {name}")
    spark = get_spark("cpu-split")
    inputs = Inputs(spark)
    if name not in DRIVER_QUERIES:
        inputs.images  # writes bench.py's synthetic corpus, once, before the first run
    meter = Meter()
    try:
        for i in range(runs):
            meter.start()
            run(name, QUERIES[name](inputs))
            yield {"name": name, "run": i, **meter.stop()}
    finally:
        spark.stop()


def _workload_runs(workload: str, runs: int):
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import run as pb
    import workloads as wl

    if workload not in wl.WORKLOADS:
        raise SystemExit(f"unknown workload: {workload}")
    spec = wl.WORKLOADS[workload]
    seed, scale = wl.DEFAULT_SEED, 0.0025
    with tempfile.TemporaryDirectory(prefix="cpu-split-") as tmp:
        spark = pb.start_spark(len(os.sched_getaffinity(0)), Path(tmp) / "tmp")
        try:
            wl.write_corpus(spark, spec["tables"], seed, scale, f"{tmp}/corpus")
            ctx = wl.Ctx(spark, f"{tmp}/corpus", f"{tmp}/scratch", spec["tables"], seed, scale)
            wl.prepare(ctx, workload)
            meter, op_meter = Meter(), Meter()
            for i in range(runs):
                ops = {}
                meter.start()
                for op, fn in spec["ops"].items():
                    op_meter.start()
                    fn(ctx, None)
                    ops[op] = op_meter.stop()
                yield {"name": workload, "run": i, **meter.stop(), "ops": ops}
        finally:
            pb.stop_spark(spark)


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("query", nargs="?", help="a tools/registry.py query name")
    ap.add_argument("--workload", help="a perfbench workload: one pass of its operations per run")
    ap.add_argument("--runs", type=int, default=5)
    args = ap.parse_args(argv)
    if (args.query is None) == (args.workload is None):
        raise SystemExit("name a query or a --workload, not both")
    if args.runs < 1:
        raise SystemExit("--runs must be at least 1")
    sys.path.insert(0, ROOT)
    runs = (
        _workload_runs(args.workload, args.runs)
        if args.workload
        else _query_runs(args.query, args.runs)
    )
    for rec in runs:
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
