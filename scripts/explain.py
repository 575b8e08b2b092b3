#!/usr/bin/env python
"""Print registered queries' physical plans under the bench confs.

Usage:
    python scripts/explain.py q03_shipping_priority[,q05_...] [sf_dir] [--warm] [--out DIR]
    python scripts/explain.py --headline [sf_dir] [--warm] [--out DIR]

Prints ``explain("formatted")`` for each named query (``--headline``: the
headline set). --warm renders the plans over the bucketed warm cache exactly
as bench.py measures them (co-partitioned ShuffledHashJoins appear only
with that layout); without it you see the plain on-disk plans. --out DIR
writes DIR/<name>.txt per query instead of printing (e.g. before/after
captures under plans/). Lists all registered query names when called with
no arguments.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    argv = sys.argv[1:]
    out_dir = None
    if "--out" in argv:
        i = argv.index("--out")
        out_dir = argv[i + 1]
        del argv[i : i + 2]
    args = [a for a in argv if not a.startswith("--")]

    from timing_explorer_spark.plans import all_queries

    qs = all_queries()
    if "--headline" in argv:
        names = sorted(n for n, s in qs.items() if s.headline)
    elif args:
        names = args.pop(0).split(",")
    else:
        for name, spec in sorted(qs.items()):
            mark = "*" if spec.headline else " "
            oracle = "oracle" if spec.oracle else "rows-only"
            print(f"{mark} {name:<40} {oracle}")
        print(f"\n{len(qs)} queries (* = headline). Usage: see scripts/explain.py")
        return 0
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries {unknown}; run with no arguments for the list")
        return 1

    from bench import WARM_CACHE_LAYOUT, bench_session

    spark = bench_session("explain")
    spark.sparkContext.setLogLevel("ERROR")
    if "--warm" in argv:
        from timing_explorer_spark.sources.tables import warm_cache

        warm_cache(spark, sf_dir, **WARM_CACHE_LAYOUT)
    if out_dir:
        os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name].build(spark, sf_dir)
        plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        if out_dir:
            path = os.path.join(out_dir, f"{name}.txt")
            with open(path, "w") as f:
                f.write(plan + "\n")
            print("wrote", path)
        else:
            print(plan)
    return 0


if __name__ == "__main__":
    sys.exit(main())
