"""Local twin of the driver's correctness gate: run every queries()
entry and its oracle_sql() side-by-side, compare row count, schema
(column names), and value hash (columns sorted by name, rows sorted).

Usage: python tools/oracle_check.py [sf_dir] [query ...]

A query name may be a queries() entry or a member of a folded suite
(``spatial_box_join`` runs ``spatial_suite``); any other name fails the
run before Spark starts.  The session is ``get_spark``'s default, as in
every other tool.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from ukis_pysat_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def value_hash(df: pd.DataFrame) -> str:
    txt = df.to_csv(index=False, float_format="%.6g")
    return hashlib.md5(txt.encode()).hexdigest()


def dtype_kinds(df: pd.DataFrame) -> list:
    # int-vs-float drift (e.g. DuckDB HUGEINT -> pandas float64 while
    # Spark emits int64) must FAIL here: the driver's hash is
    # dtype-sensitive where the %.6g formatting above is not, so the
    # mirror must compare dtype kinds explicitly, not paper over them.
    return [df[c].dtype.kind for c in df.columns]


def selected(names: list[str], queries: dict, suites: dict[str, list[str]]) -> list[str]:
    """The ``queries`` entries that ``names`` ask for, in registration
    order (all of them when ``names`` is empty); a member of a folded
    suite asks for its suite.  Exits non-zero listing unknown names."""
    suite_of = {m: s for s, members in suites.items() for m in members}
    unknown = [n for n in names if n not in queries and n not in suite_of]
    if unknown:
        raise SystemExit(f"unknown query names: {' '.join(unknown)}")
    want = {suite_of.get(n, n) for n in names}
    return [q for q in queries if not want or q in want]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    qs = entry.queries()
    names = selected(sys.argv[2:], qs, entry._SUITES)
    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    os_ = entry.oracle_sql()
    fails = 0
    for name in names:
        fn = qs[name]
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {type(e).__name__}: {str(e)[:200]}")
            fails += 1
            continue
        if name not in os_:
            print(f"{name}: rows={len(got)} (no_oracle)")
            continue
        exp = con.execute(os_[name]).df()
        g, e = canon(got), canon(exp)
        ok_rows = len(g) == len(e)
        ok_schema = list(g.columns) == list(e.columns)
        ok_dtypes = ok_schema and dtype_kinds(g) == dtype_kinds(e)
        ok_hash = (ok_rows and ok_schema and ok_dtypes
                   and value_hash(g) == value_hash(e))
        status = "OK" if ok_hash else "MISMATCH"
        print(f"{name}: {status} rows={len(g)}/{len(e)} schema={ok_schema} "
              f"dtypes={ok_dtypes}")
        if not ok_hash:
            fails += 1
            if ok_schema and not ok_dtypes:
                print("  dtype kinds got:", dtype_kinds(g),
                      "exp:", dtype_kinds(e))
            if ok_schema and ok_rows:
                print("  got head:", g.head(3).to_dict("records"))
                print("  exp head:", e.head(3).to_dict("records"))
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
