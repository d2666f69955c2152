"""Time single queries of the registry (``tools/registry.py``) in
isolation, without paying for the full bench run.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py q1 q2 ...
    python bench_extra.py --list
    python bench_extra.py --reps 3 zonal_stats

The session is ``get_spark``'s default, ``local[$SPARK_GRAFT_CPUS]``
(else every CPU).  Each query runs once to warm up, then ``--reps``
times.  Prints one JSON line per query as it finishes:
{"name": ..., "secs": [...], "min": ..., "rows": N, "sf": ...}.
"""

from __future__ import annotations

import argparse
import json
import time

from tools.registry import QUERIES, Inputs, run
from ukis_pysat_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--list", action="store_true", help="print the registry's query names")
    args = ap.parse_args()
    if args.list:
        print("\n".join(sorted(QUERIES)))
        return
    unknown = [n for n in args.names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown query names: {' '.join(unknown)}")
    spark = get_spark("bench-extra")
    inputs = Inputs(spark)
    for name in args.names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        run(name, QUERIES[name](inputs))  # warm-up
        secs, rows = [], 0
        for _ in range(args.reps):
            t0 = time.perf_counter()
            rows = run(name, QUERIES[name](inputs))
            secs.append(round(time.perf_counter() - t0, 3))
        out = {"name": name, "secs": secs, "min": min(secs), "rows": rows, "sf": inputs.sf}
        print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
