"""Time single queries of the registry (``tools/registry.py``) in
isolation, without paying for the full bench run.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py q1 q2 ...
    python bench_extra.py --list
    python bench_extra.py --reps 3 zonal_stats

The session is ``get_spark``'s default, ``local[$SPARK_GRAFT_CPUS]``
(else every CPU).  Each query runs once to warm up, then ``--reps``
times (default 5).  Prints one JSON line per query as it finishes:
{"name": ..., "secs": [...], "median": ..., "iqr": ..., "rows": N, "sf": ...};
``iqr`` is the interquartile spread of the reps, the leg's own noise.
"""

from __future__ import annotations

import argparse
import json
import statistics
import time

from tools.registry import QUERIES, Inputs, run
from ukis_pysat_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--list", action="store_true", help="print the registry's query names")
    args = ap.parse_args()
    if args.list:
        print("\n".join(sorted(QUERIES)))
        return
    if args.reps < 1:
        raise SystemExit("--reps must be at least 1")
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
        q = statistics.quantiles(secs, n=4, method="inclusive") if len(secs) > 1 else secs * 3
        out = {"name": name, "secs": secs, "median": round(q[1], 3),
               "iqr": round(q[2] - q[0], 3), "rows": rows, "sf": inputs.sf}
        print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
