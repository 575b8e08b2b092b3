#!/usr/bin/env python
"""Headline COLD-pass conf A/B (r13, verdict task #8 follow-up).

The earlier probe (bench_cold_codegen.py) timed per-query colds AFTER
warm_cache, which is not what the driver's `cold_total` measures: bench.py's
cold pass runs each headline query's build+first-execution in a fresh
session BEFORE any cache is pinned. This script replicates that exact pass
(same session confs, same sorted query order, same noop sink, no
warm_cache) in a FRESH subprocess per rep, under two conf variants,
interleaved A/B/A/B so host drift hits both sides equally.

  default — bench confs as-is
  huge8k  — spark.sql.codegen.hugeMethodLimit=8000 (methods over HotSpot's
            8000-bytecode JIT refusal limit fall back to interpreted
            Volcano instead of shipping never-JITted janino output)

Prints ONE JSON line. Usage:
  python scripts/bench_cold_headline_ab.py [--sf DIR] [--reps N]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CHILD = r"""
import json, sys, time
sys.path.insert(0, {root!r})
from bench import bench_session
from timing_explorer_spark.plans import all_queries

spark = bench_session("cold-headline-ab")
spark.sparkContext.setLogLevel("ERROR")
for k, v in json.loads({conf_json!r}).items():
    spark.conf.set(k, v)
specs = {{n: s for n, s in all_queries().items() if s.headline}}
t = {{}}
for name, spec in sorted(specs.items()):
    t0 = time.monotonic()
    df = spec.build(spark, {sf_dir!r})
    df.write.mode("overwrite").format("noop").save()
    t[name] = round(time.monotonic() - t0, 3)
print("RESULT " + json.dumps(t))
"""

VARIANTS = {
    "default": {},
    "huge8k": {"spark.sql.codegen.hugeMethodLimit": "8000"},
}


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    reps = 4
    if "--sf" in args:
        sf_dir = args[args.index("--sf") + 1]
    if "--reps" in args:
        reps = int(args[args.index("--reps") + 1])

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: dict[str, list] = {v: [] for v in VARIANTS}
    for rep in range(reps):
        for vname, conf in VARIANTS.items():  # interleaved: A B A B ...
            code = CHILD.format(root=root, conf_json=json.dumps(conf), sf_dir=sf_dir)
            r = subprocess.run(
                [sys.executable, "-c", code],
                capture_output=True, text=True, timeout=900,
                env={**os.environ,
                     "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", "32")},
            )
            lines = [ln for ln in r.stdout.splitlines() if ln.startswith("RESULT ")]
            rec = json.loads(lines[-1][len("RESULT "):]) if lines else None
            if rec is None:
                # a crashed rep stays in the record with its cause
                rec = {"returncode": r.returncode,
                       "stderr_tail": r.stderr.splitlines()[-20:]}
                print(f"rep {rep} {vname}: FAILED rc={r.returncode}", flush=True)
            else:
                print(f"rep {rep} {vname}: total {round(sum(rec.values()), 2)}",
                      flush=True)
            out[vname].append(rec)
    summary = {}
    for vname, recs in out.items():
        oks = [r for r in recs if "returncode" not in r]
        summary[vname] = {"failed_reps": len(recs) - len(oks)}
        if oks:
            summary[vname].update({
                "cold_total_per_rep": [round(sum(r.values()), 3) for r in oks],
                "cold_total_min": round(min(sum(r.values()) for r in oks), 3),
                "per_query_min": {
                    q: round(min(r[q] for r in oks), 3) for q in oks[0]
                },
            })
    print(json.dumps({"sf_dir": sf_dir, "reps": reps,
                      "summary": summary, "raw": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
