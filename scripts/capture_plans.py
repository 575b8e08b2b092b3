#!/usr/bin/env python
"""Capture .explain('formatted') for a set of registered queries under the
exact bench.py confs + warm cache, writing plans/r12/<name>_<tag>.txt.

Usage: python scripts/capture_plans.py <tag> [name1,name2,... | --headline]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    tag = sys.argv[1]
    sel = sys.argv[2] if len(sys.argv) > 2 else "--headline"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import WARM_CACHE_LAYOUT, bench_session
    from timing_explorer_spark.plans import all_queries
    from timing_explorer_spark.sources.tables import warm_cache

    qs = all_queries()
    names = (
        sorted(n for n, s in qs.items() if s.headline)
        if sel == "--headline"
        else sel.split(",")
    )

    spark = bench_session("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    warm_cache(spark, sf_dir, **WARM_CACHE_LAYOUT)
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_DIR", "r13"),
    )
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = qs[name].build(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print("wrote", path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
