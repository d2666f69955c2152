"""Write the formatted physical plan of registry queries to one
markdown file, from the session and inputs ``bench_extra.py`` times.

    SPARK_GRAFT_SF_DIR=<sf dir> python tools/plans.py BENCH/PLANS.md [query ...]

With no query names it writes every registry query.  Expression, plan
and RDD ids print as ``x``, so the files written before and after a
change diff to the change in plan shape.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.registry import QUERIES, Inputs  # noqa: E402
from ukis_pysat_spark.session import get_spark  # noqa: E402


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return re.sub(r"(#|plan_id=|RDD\[)\d+", r"\1x", buf.getvalue())


def main() -> None:
    out, names = sys.argv[1], sys.argv[2:] or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown query names: {' '.join(unknown)}")
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    inputs = Inputs(spark)
    cmd = f"SPARK_GRAFT_SF_DIR={inputs.sf_dir} python tools/plans.py {' '.join(sys.argv[1:])}"
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    lines = [
        "# Physical plans of the registry queries",
        "",
        f"Written by `{cmd}`",
        f"on `{spark.sparkContext.master}` with {partitions} shuffle partitions.",
        "`*` marks whole-stage-codegen spans.",
        "",
    ]
    for name in names:
        lines += [f"## {name}", "", "```", formatted(QUERIES[name](inputs)).rstrip(), "```", ""]
        print(name, flush=True)
    with open(out, "w") as f:
        f.write("\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    main()
