"""The package's surface and its one Python boundary, checked without
starting Spark: every public package function is named from outside
``tests/``, and the batch engine crosses into Python through Arrow only
(no pandas UDFs, no ``mapInPandas``, no pandas import)."""

import ast
import glob
import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "ukis_pysat_spark")

# Public functions that may be reached from tests/ only.
ALLOWED_TESTS_ONLY = {
    # Column-expression twins of the ukis-pysat scene-metadata API
    "pixel_spacing_degree",
    "proj_string_from_footprint",
    # oracles the benchmark imports
    "knn_bruteforce_oracle",
    "spatial_join_bruteforce",
}

# The files outside tests/ that use the package.
USERS = ["bench.py", "bench_extra.py", "__spark_entry__.py", "tools/*.py", "perfbench/*.py"]


def _rel(path: str) -> str:
    return os.path.relpath(path, ROOT)


def _package_files() -> list[str]:
    return sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True))


def _public_functions() -> dict[str, str]:
    """Public top-level function name -> its package file."""
    out = {}
    for path in _package_files():
        for node in ast.parse(open(path).read()).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                out[node.name] = _rel(path)
    return out


def test_no_public_function_is_reached_only_from_tests():
    """A public function must be named somewhere besides its own `def`:
    called or documented in the package, or used by the files outside
    tests/ (a word match, so a module docstring that lists an entry
    point counts as naming it)."""
    users = _package_files() + [
        p for pat in USERS for p in sorted(glob.glob(os.path.join(ROOT, pat)))
    ]
    text = "\n".join(open(p).read() for p in users)
    unreached = {
        f"{path}:{name}" for name, path in _public_functions().items()
        if name not in ALLOWED_TESTS_ONLY
        and len(re.findall(rf"\b{re.escape(name)}\b", text)) < 2
    }
    assert unreached == set(), "move these into tests/ or delete them"


def test_allow_list_names_package_functions():
    assert ALLOWED_TESTS_ONLY <= set(_public_functions())


# pandas stays only where another API needs it: the kNN oracle's
# driver-side frames, the streaming state API (applyInPandasWithState),
# and the worker daemon, which preloads pandas only because PySpark's
# Arrow worker path imports it (no engine code in a worker uses it).
PANDAS_FILES = {
    "ukis_pysat_spark/operators/knn.py",
    "ukis_pysat_spark/pydaemon.py",
    "ukis_pysat_spark/streaming/dedup.py",
    "ukis_pysat_spark/streaming/events.py",
}
_PANDAS_IMPORT = re.compile(r"^\s*(import pandas\b|from pandas\b)", re.M)
_PANDAS_API = re.compile(r"pandas_udf|mapInPandas|applyInPandas\(")


def test_batch_engine_crosses_into_python_through_arrow_only():
    streaming = os.path.join(PKG, "streaming") + os.sep
    api = {
        _rel(p) for p in _package_files()
        if not p.startswith(streaming) and _PANDAS_API.search(open(p).read())
    }
    assert api == set()
    imports = {_rel(p) for p in _package_files() if _PANDAS_IMPORT.search(open(p).read())}
    assert imports <= PANDAS_FILES, imports - PANDAS_FILES


# The Arrow output side has one owner: the binary payload build lives in
# arrowio.PayloadBuf, and output batches are assembled there; dedup's
# hamming pair emitter filters arrays it was handed rather than
# assembling columns.
OUTPUT_BATCH_CALLS = {
    "from_buffers(": {"ukis_pysat_spark/operators/arrowio.py"},
    "RecordBatch.from_arrays(": {
        "ukis_pysat_spark/operators/arrowio.py",
        "ukis_pysat_spark/operators/dedup.py",
    },
}


@pytest.mark.parametrize("call", sorted(OUTPUT_BATCH_CALLS))
def test_output_batches_are_built_in_arrowio(call):
    users = {_rel(p) for p in _package_files() if call in open(p).read()}
    assert users <= OUTPUT_BATCH_CALLS[call], users - OUTPUT_BATCH_CALLS[call]


def _referenced_names(tree: ast.Module) -> set[str]:
    """Every ``Name`` in the module, an ``Attribute`` chain's root
    included, plus those inside string annotations."""
    trees = [tree]
    for node in ast.walk(tree):
        if isinstance(node, (ast.arg, ast.AnnAssign)):
            note = node.annotation
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            note = node.returns
        else:
            continue
        if isinstance(note, ast.Constant) and isinstance(note.value, str):
            trees.append(ast.parse(note.value, mode="eval"))
    return {n.id for t in trees for n in ast.walk(t) if isinstance(n, ast.Name)}


def test_package_modules_use_every_name_they_import():
    """An import whose bound name is never referenced is dead; an import
    kept for its side effect says so with ``# noqa: F401``.  Package
    ``__init__`` modules re-export, so they are not checked."""
    dead = set()
    for path in _package_files():
        if os.path.basename(path) == "__init__.py":
            continue
        src = open(path).read()
        lines = src.splitlines()
        tree = ast.parse(src)
        used = _referenced_names(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                bound = [a.asname or a.name.split(".")[0] for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
                bound = [a.asname or a.name for a in node.names]
            else:
                continue
            if "# noqa: F401" not in lines[node.lineno - 1]:
                dead |= {f"{_rel(path)}:{name}" for name in bound if name not in used}
    assert dead == set()
