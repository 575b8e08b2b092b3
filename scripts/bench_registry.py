#!/usr/bin/env python
"""Time EVERY registered query through the noop sink — the optimization
round's measurement sweep (guide §1: measure first).

For each registry entry: plan-construction time, first execution (cold),
and min of two further executions (warm). Runs under the bench.py session
confs and warm-cache layout, except that events.props stays cached (some
registry queries read it), so numbers reflect engine steady state.

Usage: python scripts/bench_registry.py [--sf DIR] [--json OUT] [--only a,b]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    out_path = None
    only = None
    if "--sf" in args:
        sf_dir = args[args.index("--sf") + 1]
    if "--json" in args:
        out_path = args[args.index("--json") + 1]
    if "--only" in args:
        only = set(args[args.index("--only") + 1].split(","))

    from bench import WARM_CACHE_LAYOUT, bench_session
    from timing_explorer_spark.operators.dedup import release_cached
    from timing_explorer_spark.plans import all_queries
    from timing_explorer_spark.sources.tables import warm_cache

    spark = bench_session("bench-registry")
    spark.sparkContext.setLogLevel("ERROR")
    # events.props stays cached: the sweep runs q_json_extract and
    # q_data_profile, which read it.
    warm_cache(spark, sf_dir, **{**WARM_CACHE_LAYOUT, "drop_columns": None})

    qs = all_queries()
    if only is not None:
        qs = {k: v for k, v in qs.items() if k in only}

    results: dict[str, dict] = {}
    t_start = time.monotonic()
    for name, spec in qs.items():
        spark.sparkContext.setJobDescription(f"registry-bench: {name}")
        row: dict[str, float | str | None] = {}
        try:
            t0 = time.monotonic()
            df = spec.build(spark, sf_dir)
            row["build"] = round(time.monotonic() - t0, 3)
            runs = []
            for _ in range(3):
                t0 = time.monotonic()
                df.write.mode("overwrite").format("noop").save()
                runs.append(time.monotonic() - t0)
            row["cold"] = round(runs[0], 3)
            row["warm"] = round(min(runs[1:]), 3)
            row["err"] = None
        except Exception as e:  # noqa: BLE001 — sweep must finish
            row["err"] = f"{type(e).__name__}: {e}"[:300]
        results[name] = row
        release_cached()
        print(f"{name:<45} {row}", flush=True)
    total = round(time.monotonic() - t_start, 1)
    print(f"\ntotal sweep {total}s over {len(results)} queries")

    ranked = sorted(
        ((n, r) for n, r in results.items() if r.get("err") is None),
        key=lambda kv: kv[1]["warm"],
        reverse=True,
    )
    print("\nTop 30 by warm time:")
    for n, r in ranked[:30]:
        print(f"  {n:<45} warm={r['warm']:<8} cold={r['cold']:<8} build={r['build']}")

    if out_path:
        with open(out_path, "w") as f:
            json.dump({"sf_dir": sf_dir, "total_sec": total, "results": results}, f, indent=1)
        print("wrote", out_path)
    errs = [n for n, r in results.items() if r.get("err")]
    if errs:
        print("ERRORS:", errs)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
