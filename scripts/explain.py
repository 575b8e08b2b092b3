#!/usr/bin/env python
"""Print a registered query's physical plan under the bench confs.

Usage:
    python scripts/explain.py q03_shipping_priority [sf_dir] [--warm]

--warm renders the plan over the bucketed warm cache exactly as bench.py
measures it (co-partitioned ShuffledHashJoins appear only with that
layout); without it you see the plain on-disk plan. Lists all registered
query names when called with no arguments.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    warm = "--warm" in sys.argv

    from timing_explorer_spark.plans import all_queries

    qs = all_queries()
    if not args:
        for name, spec in sorted(qs.items()):
            mark = "*" if spec.headline else " "
            oracle = "oracle" if spec.oracle else "rows-only"
            print(f"{mark} {name:<40} {oracle}")
        print(f"\n{len(qs)} queries (* = headline). "
              "Usage: python scripts/explain.py <name> [sf_dir] [--warm]")
        return 0

    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    if name not in qs:
        print(f"unknown query {name!r}; run with no arguments for the list")
        return 1

    from bench import WARM_CACHE_LAYOUT, bench_session

    spark = bench_session("explain")
    spark.sparkContext.setLogLevel("ERROR")
    if warm:
        from timing_explorer_spark.sources.tables import warm_cache

        warm_cache(spark, sf_dir, **WARM_CACHE_LAYOUT)
    df = qs[name].build(spark, sf_dir)
    df.explain("formatted")
    return 0


if __name__ == "__main__":
    sys.exit(main())
