"""The measurement tools checked without starting Spark: the registry
against bench.py's leaves, the interleaving driver on fake legs, the CPU
split on a fake ``/proc``, and every tool importing cleanly."""

import ast
import glob
import importlib.util
import json
import os
import subprocess
import sys
import time

import pytest

import bench_extra
from tools import cpu_split, interleave, registry
from ukis_pysat_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_leaves() -> tuple[list[str], list[str]]:
    """bench.py's ``timed("…")`` names and its driver-query name list."""
    tree = ast.parse(open(os.path.join(ROOT, "bench.py")).read())
    timed = [
        n.args[0].value for n in ast.walk(tree)
        if isinstance(n, ast.Call) and getattr(n.func, "id", None) == "timed"
        and isinstance(n.args[0], ast.Constant)
    ]
    driver = [
        e.value for n in ast.walk(tree) if isinstance(n, ast.For) and isinstance(n.iter, ast.List)
        for e in n.iter.elts
    ]
    return timed, driver


def test_registry_holds_every_bench_leaf():
    timed, driver = _bench_leaves()
    assert len(timed) == 23 and len(driver) == 17
    assert "overviews" in timed
    assert [n for n in timed + driver if n not in registry.QUERIES] == []
    assert registry.DRIVER_QUERIES == driver


def _leg(tmp_path, body: str) -> list[str]:
    """A fake leg: a Python script appending its core count to a log."""
    script = tmp_path / "leg.py"
    script.write_text(
        "import json, os, sys, time\n"
        f"log = {str(tmp_path / 'log')!r}\n"
        "cores = int(sys.argv[1])\n"
        "calls = len(open(log).read().split()) if os.path.exists(log) else 0\n"
        "open(log, 'a').write(f'{cores} ')\n" + body
    )
    return [sys.executable, str(script), "{cores}"]


def _drive(capsys, args: list[str], cmd: list[str]):
    interleave.main([*args, "--", *cmd])
    return [json.loads(line) for line in capsys.readouterr().out.splitlines()]


def test_driver_alternates_and_reports(tmp_path, capsys):
    # two JSON lines merge, the later one winning a repeated key
    # ... and a line with a 'name' key nests under that name
    cmd = _leg(
        tmp_path,
        "print(json.dumps({'s': {'w': cores}, 't': {'v': -1}})); print('{log line')\n"
        "print(json.dumps({'t': {'v': cores * 10 + calls}, 'ok': True}))\n"
        "print(json.dumps({'name': 'q1', 'median': cores}))\n"
        "print(json.dumps({'name': 'q2', 'median': cores + 0.5}))\n",
    )
    *rounds, rep = _drive(capsys, [".", ".", "--cores", "1,2", "--rounds", "3"], cmd)
    assert (tmp_path / "log").read_text().split() == ["1", "2", "2", "1", "1", "2"]
    assert [r["order"] for r in rounds] == ["ab", "ba", "ab"]
    leaf = rep["leaves"]["t.v"]
    assert leaf["a"] == [10, 13, 14] and leaf["b"] == [21, 22, 25]
    assert leaf["ratio_b_over_a"] == [2.1, round(22 / 13, 4), round(25 / 14, 4)]
    assert leaf["median_a"] == 13 and leaf["median_b"] == 22
    assert leaf["iqr_a"] == pytest.approx(2.0)  # inclusive quartiles of 10, 13, 14: 11.5 and 13.5
    assert leaf["b_lower"] == 0
    assert rep["leaves"]["s.w"]["a"] == [1, 1, 1] and rep["leaves"]["s.w"]["b"] == [2, 2, 2]
    assert rep["leaves"]["q1.median"]["b"] == [2, 2, 2]
    assert rep["leaves"]["q2.median"]["a"] == [1.5, 1.5, 1.5]
    # booleans and names are not numeric leaves
    assert list(rep["leaves"]) == ["q1.median", "q2.median", "s.w", "t.v"]


def test_driver_report_spread_wins_and_efficiency():
    a = [1.0, 2.0, 3.0, 4.0]
    b = [2.0, 2.0, 6.0, 2.0]
    key = "throughput_rows_per_sec"
    rounds = [{"a": {key: x}, "b": {key: y}} for x, y in zip(a, b)]
    rep = interleave.report(rounds, cores=(1, 4))
    leaf = rep["leaves"][key]
    assert leaf["ratio_b_over_a"] == [2.0, 1.0, 2.0, 0.5]
    assert (leaf["median_a"], leaf["median_b"], leaf["iqr_a"]) == (2.5, 2.0, 1.5)
    assert leaf["b_lower"] == 1
    assert rep["efficiency"] == [0.5, 0.25, 0.5, 0.125] and rep["median_efficiency"] == 0.375


def test_driver_retries_a_leg_once(tmp_path, capsys):
    cmd = _leg(tmp_path, "if calls == 0: sys.exit('crash')\nprint(json.dumps({'v': 1}))\n")
    *rounds, rep = _drive(capsys, [".", ".", "--rounds", "1", "--cores", "1,2"], cmd)
    assert (tmp_path / "log").read_text().split() == ["1", "1", "2"]
    assert rep["leaves"]["v"]["a"] == [1]


@pytest.mark.parametrize("body,args", [
    ("print('no json here')\n", []),
    ("time.sleep(30)\n", ["--timeout", "1"]),
])
def test_driver_fails_after_second_bad_attempt(tmp_path, capsys, body, args):
    with pytest.raises(SystemExit) as e:
        _drive(capsys, [".", ".", "--cores", "3,4", *args], _leg(tmp_path, body))
    assert e.value.code != 0
    assert (tmp_path / "log").read_text().split() == ["3", "3"]
    assert capsys.readouterr().out == ""  # no round finished


def test_terminated_driver_ends_its_leg(tmp_path):
    pid_file = tmp_path / "leg.pid"
    leg = f"import os, time; open({str(pid_file)!r}, 'w').write(str(os.getpid())); time.sleep(60)"
    driver = subprocess.Popen(
        [sys.executable, interleave.__file__, ".", ".", "--", sys.executable, "-c", leg],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    for _ in range(200):
        if pid_file.exists() and pid_file.read_text():
            break
        time.sleep(0.05)
    driver.terminate()
    assert driver.wait(timeout=30) == 143
    time.sleep(0.5)
    assert not os.path.exists(f"/proc/{pid_file.read_text()}")


def test_driver_runs_a_revision_in_its_archived_tree(tmp_path):
    repo = tmp_path / "repo"
    repo.mkdir()
    git = ["git", "-C", str(repo), "-c", "user.name=t", "-c", "user.email=t@t"]
    (repo / "v.txt").write_text("1")
    subprocess.run([*git, "init", "-q"], check=True)
    subprocess.run([*git, "add", "v.txt"], check=True)
    subprocess.run([*git, "commit", "-qm", "v1"], check=True)
    (repo / "v.txt").write_text("2")  # uncommitted edit
    cmd = [sys.executable, "-c", "import json; print(json.dumps({'v': int(open('v.txt').read())}))"]
    legs = [
        interleave.run_leg(cmd, interleave.tree(rev, str(tmp_path), repo=str(repo)), 60)
        for rev in ("HEAD", ".")
    ]
    assert legs == [{"v": 1}, {"v": 2}]


def test_tools_import_without_spark(monkeypatch):
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: pytest.fail("Spark started"))
    paths = sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))
    paths.append(os.path.join(ROOT, "bench_extra.py"))
    for path in paths:
        assert "SparkSession.builder" not in open(path).read(), path
        spec = importlib.util.spec_from_file_location(f"_probe_{os.path.basename(path)[:-3]}", path)
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
    assert len(paths) == 8


def test_bench_extra_lists_and_rejects_names_without_spark(monkeypatch, capsys):
    monkeypatch.setattr(bench_extra, "get_spark", lambda *a, **k: pytest.fail("Spark started"))
    monkeypatch.setattr(sys, "argv", ["bench_extra.py", "--list"])
    bench_extra.main()
    assert capsys.readouterr().out.split() == sorted(registry.QUERIES)
    monkeypatch.setattr(sys, "argv", ["bench_extra.py", "overviews", "no_such_q"])
    with pytest.raises(SystemExit) as e:
        bench_extra.main()
    assert e.value.code == "unknown query names: no_such_q"


def _fake_proc(root, procs: dict) -> None:
    """``procs``: pid -> (comm, ticks, start, {tid: (comm, ticks, start)},
    {tid: child pids}); ``ticks`` is split into utime and stime."""
    def stat(path, pid, comm, ticks, start):
        fields = ["S", "1", *["0"] * 9, str(ticks - ticks // 3), str(ticks // 3), *["0"] * 6, str(start)]
        path.mkdir(parents=True, exist_ok=True)
        (path / "stat").write_text(f"{pid} ({comm}) {' '.join(fields)} 0 0\n")

    for pid, (comm, ticks, start, threads, children) in procs.items():
        stat(root / str(pid), pid, comm, ticks, start)
        for tid, (tcomm, tticks, tstart) in {pid: (comm, 0, start), **threads}.items():
            stat(root / str(pid) / "task" / str(tid), tid, tcomm, tticks, tstart)
            (root / str(pid) / "task" / str(tid) / "children").write_text(
                " ".join(map(str, children.get(tid, ())))
            )


def test_cpu_split_classifies_threads():
    assert [cpu_split.thread_class(c) for c in (
        "C2 CompilerThre", "C1 CompilerThre", "GC Thread#3", "G1 Conc#0", "G1 Refine#0",
        "Executor task l", "VM Thread", "dag-scheduler-e", "java",
    )] == ["c2", "c1", "gc", "gc", "gc", "executor", "jvm_other", "jvm_other", "jvm_other"]


def test_cpu_split_counts_exited_jvm_threads(tmp_path):
    """A C2 thread that exits between the snapshots leaves its CPU in
    the JVM's total only: it reads as jvm_exited, not as a negative C2
    delta.  A new thread (here one reusing a tid) counts from zero, and
    the processes below the JVM are the Python workers."""
    jvm_threads = {
        11: ("C2 CompilerThre", 500, 7), 12: ("GC Thread#0", 40, 7),
        13: ("Executor task l", 300, 8), 14: ("VM Thread", 10, 7),
    }
    before_tree = {
        1: ("python3", 100, 1, {}, {1: [10]}),
        10: ("java", 900, 5, jvm_threads, {13: [20]}),
        20: ("python", 50, 9, {}, {20: [21]}),
        21: ("python", 30, 10, {}, {}),
        99: ("java", 5000, 2, {}, {}),  # another session's JVM: not in the tree
    }
    _fake_proc(tmp_path / "t0", before_tree)
    before = cpu_split.snapshot(1, str(tmp_path / "t0"))
    assert {k[0] for k in before} == {1, 10, 20, 21}

    after_tree = dict(before_tree)
    after_tree[1] = ("python3", 130, 1, {}, {1: [10]})
    # C2 #11 ran 200 more ticks, then exited; a new C2 took tid 11
    after_tree[10] = ("java", 900 + 200 + 150 + 25 + 400 + 5 + 30, 5, {
        11: ("C2 CompilerThre", 30, 60), 12: ("GC Thread#0", 65, 7),
        13: ("Executor task l", 700, 8), 14: ("VM Thread", 15, 7),
        15: ("C1 CompilerThre", 150, 61),
    }, {13: [20]})
    after_tree[21] = ("python", 80, 10, {}, {})
    after_tree[20] = ("python", 50, 9, {}, {20: [21, 22]})
    after_tree[22] = ("python", 20, 70, {}, {})
    _fake_proc(tmp_path / "t1", after_tree)
    got = cpu_split.split(before, cpu_split.snapshot(1, str(tmp_path / "t1")))
    tick = os.sysconf("SC_CLK_TCK")
    assert {k: round(v * tick) for k, v in got.items()} == {
        "c2": 30, "c1": 150, "gc": 25, "executor": 400, "jvm_other": 5,
        "jvm_exited": 200, "python_workers": 70, "driver": 30,
    }
