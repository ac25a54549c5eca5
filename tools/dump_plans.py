"""Dump `.explain("formatted")` for named gates to plans/.

Usage: python3 tools/dump_plans.py <suffix> <gate> [gate ...]
       [--sf /root/testdata/sf0.1] [--dir plans]

Writes plans/<gate>_<suffix>.txt (suffix = "before"/"after"), the
optimization-round deliverable: the judge checks plan claims (Exchange
counts, join strategies, ReadSchema/PushedFilters, Python stages)
against these files. Uses the same sf as the bench so plan shapes match
the measured numbers; `_fx` fixtures build on first touch (untimed
here, as in the bench).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("suffix")
    ap.add_argument("gates", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--dir", default="plans")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from leann_rs_spark.session import get_spark

    spark = get_spark(app_name="dump-plans")
    os.makedirs(args.dir, exist_ok=True)
    qs = entry_mod.queries()
    for name in args.gates:
        fn = qs[name]
        df = fn(spark, args.sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
