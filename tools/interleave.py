"""Interleaved A/B driver: run one command as two legs, A and B, round
after round, so that each pair of legs shares one noise window.

    python tools/interleave.py [--rounds N] [--timeout S] [--cores N,M] A B -- CMD ...

A and B are git revisions: ``.`` is the working tree (uncommitted edits
included); any other revision is extracted with ``git archive`` into a
temporary directory.  A leg runs CMD with its tree as the working
directory, so ``bench_extra.py`` or ``perfbench/run.py`` import that
tree's package.  For a benchmark claim, name both sides as revisions
(after ``git add -A``, ``git stash create`` names the working tree) so
that both legs run from freshly extracted trees.  With ``--cores N,M``
the legs may differ by core count instead: ``{cores}`` in CMD becomes N
for A and M for B.

    # parent vs working tree on the benchmark
    python tools/interleave.py HEAD~1 . --rounds 5 -- \\
        python3 perfbench/run.py --workload catalog_join --seconds 10 --trace 0
    # the scaling gate: efficiency = throughput ratio / core ratio
    SCALE_N_IMAGES=2000 python tools/interleave.py . . --cores 1,4 -- \\
        python3 tools/scaling_bench.py {cores}
    # registry queries, one leaf per query and statistic
    python tools/interleave.py HEAD~1 . -- python3 bench_extra.py tile_pixels zonal_stats

Round i runs A first when i is even and B first when it is odd.  A leg
that times out or prints no JSON line is retried once; a second failure
ends the run (exit status 1).  A leg's result is every JSON-object line
of its standard output merged into one, a later line winning a repeated
key, so perfbench's per-operation summary line reaches the report next
to its result line.  A line with a ``name`` key is nested under that
name, so a ``bench_extra.py`` leg of several queries reports each one
(``tile_pixels.median``, ``zonal_stats.median``, ...).  Each finished round prints one JSON line
{"round", "order", "a", "b"}, flushed before the next leg starts, so a
killed run keeps its rounds.  The last line is the report: for every
numeric leaf of the legs' results (dotted path) the per-pair values,
the ratio b/a, both medians, the A side's interquartile spread and the
number of pairs in which B is lower; with ``--cores``, also the per-pair
scaling efficiency and its median.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def tree(rev: str, tmp: str, repo: str = REPO) -> str:
    """The directory a leg of ``rev`` runs in."""
    if rev == ".":
        return repo
    dest = os.path.join(tmp, rev.replace("/", "_"))
    if not os.path.isdir(dest):
        os.makedirs(dest)
        archive = subprocess.run(
            ["git", "-C", repo, "archive", rev], capture_output=True, check=True
        )
        subprocess.run(["tar", "-x", "-C", dest], input=archive.stdout, check=True)
    return dest


def merged_json(stdout: str) -> dict | None:
    """Every JSON-object line of ``stdout`` merged into one dict, a later
    line winning a repeated key; a line that carries a string ``name``
    is nested under that name, so one leg can report several queries.
    None without such a line."""
    merged = None
    for line in stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if isinstance(obj.get("name"), str):
                obj = {obj["name"]: obj}
            merged = {**(merged or {}), **obj}
    return merged


def run_leg(cmd: list[str], cwd: str, timeout: float) -> dict:
    for attempt in (1, 2):
        # its own process group, so a timeout also ends the JVM and workers
        proc = subprocess.Popen(
            cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            start_new_session=True,
        )
        try:
            out, err = proc.communicate(timeout=timeout)
        except BaseException as e:  # a timeout, or the driver itself stopped
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            if not isinstance(e, subprocess.TimeoutExpired):
                raise
            print(f"leg {cmd} attempt {attempt}: timed out after {timeout} s", file=sys.stderr)
            continue
        result = merged_json(out)
        if result is not None:
            return result
        print(f"leg {cmd} attempt {attempt}: no JSON line (exit {proc.returncode})\n{err[-1500:]}",
              file=sys.stderr)
    raise SystemExit(f"leg {cmd} failed twice")


def leaves(obj, prefix: str = "") -> dict[str, float]:
    """Dotted path -> value of every numeric leaf of a JSON object."""
    if isinstance(obj, dict):
        return {k: v for key, sub in obj.items() for k, v in leaves(sub, f"{prefix}{key}.").items()}
    if isinstance(obj, (int, float)) and not isinstance(obj, bool):
        return {prefix[:-1]: obj}
    return {}


def report(rounds: list[dict], cores: tuple[int, int] | None = None) -> dict:
    pairs = [(leaves(r["a"]), leaves(r["b"])) for r in rounds]
    out = {}
    for key in sorted(set.intersection(*(set(a) & set(b) for a, b in pairs))):
        a = [p[0][key] for p in pairs]
        b = [p[1][key] for p in pairs]
        q = statistics.quantiles(a, n=4, method="inclusive") if len(a) > 1 else [a[0]] * 3
        out[key] = {
            "a": a, "b": b,
            "ratio_b_over_a": [round(y / x, 4) if x else None for x, y in zip(a, b)],
            "median_a": statistics.median(a), "median_b": statistics.median(b),
            "iqr_a": q[2] - q[0],
            "b_lower": sum(y < x for x, y in zip(a, b)),
        }
    result = {"rounds": len(rounds), "leaves": out}
    thr = out.get("throughput_rows_per_sec")
    if cores and thr:
        eff = [round(r / (cores[1] / cores[0]), 4) for r in thr["ratio_b_over_a"] if r is not None]
        result["efficiency"] = eff
        result["median_efficiency"] = statistics.median(eff)
    return result


def main(argv: list[str]) -> None:
    if "--" not in argv:
        raise SystemExit("usage: interleave.py [options] A B -- CMD ...")
    split = argv.index("--")
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--timeout", type=float, default=1800.0, help="seconds per leg attempt")
    ap.add_argument("--cores", help="N,M: {cores} in CMD is N for leg A, M for leg B")
    args = ap.parse_args(argv[:split])
    # a terminated driver ends the running leg's process group too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cmd = argv[split + 1:]
    cores = tuple(int(c) for c in args.cores.split(",")) if args.cores else None
    with tempfile.TemporaryDirectory(prefix="interleave-") as tmp:
        legs = {}
        for side, rev, n in (("a", args.a, cores and cores[0]), ("b", args.b, cores and cores[1])):
            legs[side] = ([c.replace("{cores}", str(n)) for c in cmd] if n else cmd, tree(rev, tmp))
        rounds = []
        for i in range(args.rounds):
            order = ("a", "b") if i % 2 == 0 else ("b", "a")
            done = {side: run_leg(*legs[side], args.timeout) for side in order}
            rounds.append({"round": i, "order": "".join(order), "a": done["a"], "b": done["b"]})
            print(json.dumps(rounds[-1]), flush=True)
    head = {"a": args.a, "b": args.b, "cores": cores, "cmd": cmd}
    print(json.dumps({**head, **report(rounds, cores)}))


if __name__ == "__main__":
    main(sys.argv[1:])
