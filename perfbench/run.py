"""Engine benchmark: one closed-loop client runs a workload's operations
against the package's public functions, one Spark job at a time, pass
after pass, for a fixed time.

    python3 perfbench/run.py --workload catalog_join --seed 42 --seconds 10 --trace 0

Run it from the repository root.  The seed generates the corpus (images
use the seed, AOIs seed + 1); the session is ``session.get_spark`` at
``local[<usable cpus>]``.  A run:

1. writes the workload's corpus ``SETUP_REPS`` times (``setup_s`` is the
   median), then reads the last copy;
2. runs one untimed reference pass and checks the rows it kept against
   the package's oracles; at the default seed the row counts are pinned
   (the round-7 bench's at ``--scale`` 0.01 and 0.1);
3. runs the operations pass after pass until ``--seconds`` have passed
   and the workload's ``passes`` have run, checking that every call
   returns the reference rows and content hash, and timing each call in
   wall and CPU seconds (of the process tree: this process, the JVM and
   the Python workers).

With ``--trace 0`` the printed metrics are the end-to-end ones:
``setup_s`` and ``pass_cpu_s``, the sum of the operations' mean CPU
seconds over the workload's first ``passes``.  CPU time is the bound
metric because this benchmark runs on virtual machines whose host lends
their CPUs to other guests: wall time then doubles for minutes at a
time, and the kernel leaves that stolen time out of CPU time.  The line
before the result gives each operation's mean CPU and median wall seconds,
sample count and output rows, ``pass_s`` (the sum of the median wall
latencies), ``rows_per_s`` and the median pass's ``peak_rss_mb``
(process tree RSS).  With ``--trace 1`` whole untraced and traced passes
alternate and the metrics are the per-layer ones of the traced passes,
plus ``trace.overhead_frac`` (traced against untraced pass wall time).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  Every operation and pass is
also appended to ``.perfbench/records/<run>.jsonl`` and flushed when it
finishes, so a killed run keeps its finished passes; the spans of a
traced run go to ``<run>.spans.json`` when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"

SETUP_REPS = 3
OP_TIMEOUT_S = 60  # an operation running longer is cancelled and counted failed
RUN_LIMIT_S = 140  # past this wall time a run stops after the operation under way

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}
PER_LAYER = {
    "spatial_join.cover_rows": "count",
    "spatial_join.cover_s": "s",
    "spatial_join.cand_rows": "count",
    "spatial_join.cand_pairs": "count",
    "spatial_join.cand_s": "s",
    "spatial_join.exact_ratio": "ratio",
    "spatial_join.refine_rows_in": "count",
    "spatial_join.refine_s": "s",
    "broadcast.bytes": "bytes",
    "geometry.pip_pairs_per_s": "1/s",
    "geometry.poly_pairs_per_s": "1/s",
    "knn.cand_rows": "count",
    "dedup.cand_pairs": "count",
    "dedup.verify_ratio": "ratio",
    "scan.rows": "count",
    "scan.time_ms": "ms",
    "codec.decode_mb_per_s": "MB/s",
    "codec.encode_mb_per_s": "MB/s",
    "arrow.bytes_sent": "bytes",
    "arrow.bytes_recv": "bytes",
    "arrow.rows_recv": "count",
    "arrow.python_ms": "ms",
    "arrow.boot_ms": "ms",
    "tiling.tiles": "count",
    "tiling.tile_pixels_s": "s",
    "zonal.cand_pairs": "count",
    "zonal.stats_rows": "count",
    "shuffle.bytes_written": "bytes",
    "shuffle.records": "count",
    "shuffle.write_ms": "ms",
    "shuffle.spill_bytes": "bytes",
    "sinks.to_geotiff_s": "s",
    "sources.from_geotiff_s": "s",
    "sinks.tiff_bytes_per_raw_byte": "ratio",
    "checkpoint.commit_s": "s",
    "checkpoint.resume_filter_s": "s",
    "checkpoint.rows_recomputed": "count",
    "checkpoint.write_amp": "ratio",
    "jvm.gc_ms": "ms",
    "jvm.heap_peak_mb": "MB",
    "python.rss_peak_mb": "MB",
    "plan.non_codegen_nodes": "count",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=0.0025,
        help="corpus scale factor as in bench.py: 0.0025 is 500 images (a run fits the "
        "benchmark's time budget); 0.01 and 0.1 reproduce the round-7 sf0.01 and sf0.1 corpora",
    )
    return p.parse_args(argv)


def load_spec() -> dict:
    """BENCHMARK.json, whose metric names and units must be the ones
    this file reports; raises ValueError otherwise."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for key, mine in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        if {m["name"]: m["unit"] for m in spec[key]} != mine:
            raise ValueError(f"BENCHMARK.json {key} differs from perfbench/run.py")
    return spec


class Records:
    """Append-only JSONL, flushed to disk record by record."""

    def __init__(self, path: Path):
        path.parent.mkdir(parents=True, exist_ok=True)
        self._f = open(path, "a")

    def write(self, **rec) -> None:
        rec["time"] = time.time()
        self._f.write(json.dumps(rec, default=str) + "\n")
        self._f.flush()
        os.fsync(self._f.fileno())

    def close(self) -> None:
        self._f.close()


def revision() -> dict:
    """Git revision when the checkout is a repository, and a hash of the
    package sources either way."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "ukis_pysat_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    rev = None
    if (ROOT / ".git").exists():
        try:
            rev = subprocess.run(
                ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            rev = None
    return {"git": rev, "source_sha256": h.hexdigest()}


def start_spark(cpus: int, tmp: Path):
    """session.get_spark at local[cpus], with every file Spark, the JVM
    and the Python workers write kept under the checkout."""
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = str(tmp)
    # a 2 GB heap holds every workload at --scale 0.01 and keeps the run
    # small; a heap that fills early keeps peak_rss_mb steady across passes
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    from ukis_pysat_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": str(tmp / "spark"),
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # session.py's direct-memory bound, plus a JVM temp dir in the checkout
            "spark.driver.extraJavaOptions": f"-XX:MaxDirectMemorySize=8g -Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()  # raises when a signal broke the py4j connection mid-call
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "ukis_pysat_spark" / "__init__.py").is_file():
        print(f"perfbench: no ukis_pysat_spark package in {ROOT}", file=sys.stderr)
        return 2
    try:
        whys = {w["name"]: w["why"] for w in load_spec()["workloads"]}
    except (OSError, ValueError, KeyError) as e:
        print(f"perfbench: bad BENCHMARK.json: {e!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import workloads as wl
    from tracing import JvmProbe, SpanRecorder, Tracer, TreeSampler, host_steal

    if args.workload not in wl.WORKLOADS or args.workload not in whys:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = wl.WORKLOADS[args.workload]
    signal.signal(signal.SIGTERM, _terminate)

    t_start = time.perf_counter()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run_dir = WORK / "runs" / run_id
    records = Records(WORK / "records" / f"{run_id}.jsonl")
    spans = SpanRecorder(run_id)
    counts = {"attempted": 0, "failed": 0}
    sampler = TreeSampler()
    spark = None
    try:
        cpus = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        spark = start_spark(cpus, run_dir / "tmp")
        session_s = time.perf_counter() - t0
        sc = spark.sparkContext
        records.write(
            event="config", run_id=run_id, workload=args.workload, why=whys[args.workload],
            seed=args.seed, aoi_seed=args.seed + 1, scale=args.scale, sizes=wl.sizes(args.scale),
            seconds=args.seconds, trace=args.trace, master=sc.master, cpus=cpus,
            loop="closed: one client, one operation at a time",
            spark_conf=dict(sc.getConf().getAll()), spark_version=spark.version,
            python=platform.python_version(), revision=revision(), session_s=session_s,
        )

        setup = []
        corpus = None
        for rep in range(SETUP_REPS):
            out = str(run_dir / f"corpus{rep}")
            t0 = time.perf_counter()
            wl.write_corpus(spark, spec["tables"], args.seed, args.scale, out)
            setup.append(time.perf_counter() - t0)
            records.write(event="setup", rep=rep, secs=setup[-1])
            if corpus:
                shutil.rmtree(corpus, ignore_errors=True)
            corpus = out
        ctx = wl.Ctx(spark, corpus, str(run_dir / "scratch"), spec["tables"], args.seed, args.scale)
        wl.prepare(ctx, args.workload)
        jvm = JvmProbe(spark._jvm)
        probes = wl.KernelProbes(ctx) if args.trace else None
        pinned = wl.PINNED_ROWS.get(args.scale, {}) if args.seed == wl.DEFAULT_SEED else {}
        reference: dict[str, tuple[int, str]] = {}

        def run_op(i: int, name: str, fn, tr) -> "wl.Out | None":
            counts["attempted"] += 1
            label = f"{run_id}/p{i}/{name}"
            sc.setJobGroup(label, f"perfbench {args.workload} pass {i} {name}", True)
            timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, [label])
            timer.start()
            steal0 = host_steal()
            try:
                out = fn(ctx, tr)
                got = (out.rows, out.hash)
                want = reference.setdefault(name, got)
                wl.expect(got == want, f"rows/hash {got} != reference {want}")
                if name in pinned:
                    wl.expect(out.rows == pinned[name], f"rows {out.rows} != pinned {pinned[name]}")
            except Exception:  # an operation's failure is counted; the run goes on
                counts["failed"] += 1
                records.write(event="op", pass_=i, op=name, ok=False, error=traceback.format_exc())
                return None
            finally:
                timer.cancel()
            ticks, stolen = (b - a for a, b in zip(steal0, host_steal()))
            records.write(
                event="op", pass_=i, op=name, ok=True, secs=out.secs, cpu_s=out.cpu,
                host_steal_frac=stolen / ticks if ticks else 0.0,
                rows=out.rows, hash=out.hash, notes=out.notes,
            )
            return out

        def run_pass(i: int, kind: str, stop=None) -> dict:
            """One pass over the workload's operations; ``stop`` is asked
            after each operation whether to end the pass early."""
            tr = Tracer(spans, spark._jvm) if kind == "traced" else None
            sampler.reset()
            jvm.reset_peak()
            gc0 = jvm.gc_ms()
            t0 = time.perf_counter()
            ops = spec["ops"]
            outs = {}
            with spans.span(f"pass.{kind}", pass_=i) if tr else contextlib.nullcontext():
                for name, fn in ops.items():
                    with spans.span(f"op.{name}", pass_=i) if tr else contextlib.nullcontext():
                        outs[name] = run_op(i, name, fn, tr)
                    if stop is not None and stop():
                        break
            wall = time.perf_counter() - t0
            total_mb, python_mb = sampler.peak()
            done = {k: o for k, o in outs.items() if o is not None}
            op_s = sum(o.secs for o in done.values())
            rows = sum(o.rows for o in done.values())
            rec = {
                "pass_": i, "kind": kind, "ok": len(done) == len(outs), "complete": len(outs) == len(ops),
                "wall_s": wall, "pass_s": op_s, "op_s": {k: o.secs for k, o in done.items()},
                "cpu_s": sum(o.cpu for o in done.values()), "op_cpu_s": {k: o.cpu for k, o in done.items()},
                "rows": rows, "rows_per_s": rows / op_s if op_s else 0.0, "peak_rss_mb": total_mb,
            }
            if tr:
                layers = {name: 0.0 for name in PER_LAYER}
                layers.update({k: v for k, v in tr.values.items() if k in PER_LAYER})
                commits = tr.values.get("checkpoint.commits", 0)
                if commits:
                    layers["checkpoint.commit_s"] /= commits  # per commit_batch call
                layers.update(probes.measure())
                layers["jvm.gc_ms"] = jvm.gc_ms() - gc0
                layers["jvm.heap_peak_mb"] = jvm.heap_peak_mb()
                layers["python.rss_peak_mb"] = python_mb
                rec["layers"] = layers
            records.write(event="pass", **rec)
            return rec

        ctx.keep = wl.oracle_samples(ctx)
        run_pass(0, "reference")
        ctx.keep = {}
        for name, check in wl.ORACLES.items():
            if name not in reference:
                continue
            try:
                check(ctx)
            except Exception:  # the reference output is wrong: count its operation failed
                counts["failed"] += 1
                records.write(event="oracle", op=name, ok=False, error=traceback.format_exc())
            else:
                records.write(event="oracle", op=name, ok=True)

        # Whole passes run until --seconds have passed and the workload's
        # ``passes`` untraced ones have run; traced, passes alternate
        # untraced and traced until both kinds ran.  The JVM goes on
        # compiling the engine's code for many passes, so each pass costs
        # less CPU than the one before: pass_cpu_s takes the first
        # ``passes`` untraced passes, the same ones in every run however
        # many fit in the time, and averages them, since the compiler's
        # work moves from one of them to another from run to run (over
        # ten catalog_join runs on a 4-vCPU Xeon VM the mean spread 4.7 %
        # between quartiles, the per-operation median 7.9 %).  A hung or failing operation
        # ends the run at RUN_LIMIT_S.
        need = spec["passes"]

        def past_limit() -> bool:
            return time.perf_counter() - t_start > RUN_LIMIT_S

        deadline = time.perf_counter() + args.seconds
        passes = []
        i = 1
        while True:
            kind = "traced" if args.trace and i % 2 == 0 else "untraced"
            passes.append(run_pass(i, kind, stop=past_limit))
            i += 1
            kinds = [p["kind"] for p in passes]
            enough = len(set(kinds)) == 2 if args.trace else kinds.count("untraced") >= need
            if past_limit() or (enough and time.perf_counter() >= deadline):
                break

        untraced = [p for p in passes if p["kind"] == "untraced"]
        med = statistics.median

        def per_op(stat, key: str, ps: list) -> dict[str, float]:
            """``stat`` of each operation's ``key`` over passes ``ps``; an
            operation without one successful call is left out (it is
            counted failed)."""
            out = {}
            for name in spec["ops"]:
                v = [p[key][name] for p in ps if name in p[key]]
                if v:
                    out[name] = stat(v)
            return out

        summary = None
        unsampled = []  # operations without a sample: failed every time, or cut by the time limit
        if args.trace:
            traced = [p for p in passes if p["kind"] == "traced"]
            metrics = {k: med(p["layers"][k] for p in traced) for k in PER_LAYER if k != "trace.overhead_frac"}
            metrics["trace.overhead_frac"] = (
                med(p["wall_s"] for p in traced) / med(p["wall_s"] for p in untraced) - 1.0
            )
            units = PER_LAYER
        else:
            op_cpu = per_op(statistics.fmean, "op_cpu_s", untraced[:need])
            unsampled = [name for name in spec["ops"] if name not in op_cpu]
            op_s = per_op(med, "op_s", untraced)
            metrics = {
                "setup_s": med(setup),
                # CPU seconds of one pass, from each operation's mean
                "pass_cpu_s": sum(op_cpu.values()),
            }
            units = END_TO_END
            # the per-operation figures behind pass_cpu_s and the wall
            # latencies, printed before the result; wall time grows when
            # other guests of the host take its CPUs, so it carries no bound
            pass_s = sum(op_s.values())
            rows = sum(reference[name][0] for name in op_s)
            summary = {
                "ops": {
                    name: {
                        "mean_cpu_s": op_cpu.get(name), "median_s": s,
                        "samples": sum(name in p["op_s"] for p in untraced), "rows": reference[name][0],
                    }
                    for name, s in op_s.items()
                },
                "pass_s": pass_s,
                "rows_per_s": rows / pass_s if op_s else 0.0,
                "peak_rss_mb": med(p["peak_rss_mb"] for p in untraced),
            }
        result = {
            "correct": counts["failed"] == 0 and not unsampled,
            "attempted": counts["attempted"],
            "failed": counts["failed"],
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
        records.write(event="result", passes=len(passes), summary=summary, **result)
    except BaseException:
        records.write(event="aborted", error=traceback.format_exc(), **counts)
        raise
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        try:
            sampler.close()
            if spark is not None:
                stop_spark(spark)
        finally:
            if args.trace:
                spans.write(str(WORK / "records" / f"{run_id}.spans.json"))
            records.close()
            shutil.rmtree(run_dir, ignore_errors=True)
    if summary is not None:
        print(json.dumps(summary))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
