#!/usr/bin/env python
"""A/B two Spark-conf variants over registry queries, interleaved.

Warm mode (default): one bench session. Reps run as A B A B ... blocks;
each block sets its variant's confs, re-pins the cache with
bench.WARM_CACHE_LAYOUT (so storage confs such as
inMemoryColumnarStorage.compressed really flip), builds the plans, makes
one untimed pass, then times each query as bench.py does: one untimed
warm-up and the min of 4 hot runs.

--cold: a fresh subprocess per rep, interleaved A B A B, no warm cache —
build plus first execution per query in sorted order, exactly bench.py's
``cold_total`` pass.

In both modes every rep hashes each query's canonical output
(testing.spark_canonical) outside the timed region; the two variants must
agree. A crashed cold rep stays in ``raw`` with its returncode and stderr
tail. Exit code is 1 when outputs differ or any rep failed.

Prints ONE JSON line. Usage:
  python scripts/ab.py --sf DIR [--a k=v[,k=v]] [--b k=v[,k=v]]
                       [--queries a,b] [--reps N] [--cold]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

SCRIPTS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(SCRIPTS))

VARIANTS = ("A", "B")


def parse_conf(spec: str) -> dict[str, str]:
    """'k=v,k2=v2' -> {k: v, k2: v2}; '' -> {}."""
    out = {}
    for item in filter(None, spec.split(",")):
        key, sep, value = item.partition("=")
        if not sep:
            raise ValueError(f"conf override {item!r} is not k=v")
        out[key.strip()] = value.strip()
    return out


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def output_hash(df) -> str:
    from timing_explorer_spark.testing import spark_canonical

    return hashlib.sha256(json.dumps(spark_canonical(df)).encode()).hexdigest()[:16]


def cold_child(conf: dict[str, str], sf_dir: str, queries: list[str]) -> None:
    """One cold rep in this (fresh) process: prints ``RESULT {times, hashes}``."""
    from bench import bench_session
    from timing_explorer_spark.plans import all_queries

    spark = bench_session("ab-cold")
    spark.sparkContext.setLogLevel("ERROR")
    for k, v in conf.items():
        spark.conf.set(k, v)
    specs = all_queries()
    times, plans = {}, {}
    for name in sorted(queries):
        t0 = time.monotonic()
        plans[name] = specs[name].build(spark, sf_dir)
        _noop(plans[name])
        times[name] = round(time.monotonic() - t0, 3)
    hashes = {name: output_hash(df) for name, df in plans.items()}
    print("RESULT " + json.dumps({"times": times, "hashes": hashes}), flush=True)


def run_child(argv: list[str]) -> dict:
    """Run one subprocess rep; a rep without a RESULT line is kept as a
    failure record with its returncode and the last 20 stderr lines."""
    r = subprocess.run(argv, capture_output=True, text=True, timeout=900)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("RESULT ")]
    if r.returncode == 0 and lines:
        return json.loads(lines[-1][len("RESULT ") :])
    return {"returncode": r.returncode, "stderr_tail": r.stderr.splitlines()[-20:]}


def cold_argv(conf: dict[str, str], sf_dir: str, queries: list[str]) -> list[str]:
    code = (
        f"import sys; sys.path.insert(0, {SCRIPTS!r}); "
        f"import ab; ab.cold_child({conf!r}, {sf_dir!r}, {queries!r})"
    )
    return [sys.executable, "-c", code]


def interleave(reps: int, run_rep) -> dict[str, list[dict]]:
    """A B A B ...: ``run_rep(variant)`` once per variant per rep."""
    raw: dict[str, list[dict]] = {v: [] for v in VARIANTS}
    for rep in range(reps):
        for v in VARIANTS:
            rec = run_rep(v)
            raw[v].append(rec)
            status = (
                f"FAILED rc={rec['returncode']}"
                if "returncode" in rec
                else f"total {round(sum(rec['times'].values()), 3)}"
            )
            print(f"rep {rep} {v}: {status}", file=sys.stderr, flush=True)
    return raw


def _ok(recs: list[dict]) -> list[dict]:
    return [r for r in recs if "returncode" not in r]


def summarize(raw: dict[str, list[dict]]) -> dict:
    """Per-variant totals, B's pairwise wins and output equality."""
    summary = {}
    for v, recs in raw.items():
        oks = _ok(recs)
        totals = [round(sum(r["times"].values()), 3) for r in oks]
        s: dict = {"failed_reps": len(recs) - len(oks), "total_per_rep": totals}
        if oks:
            s["total_min"] = min(totals)
            s["total_median"] = round(statistics.median(totals), 3)
            s["per_query_min"] = {q: min(r["times"][q] for r in oks) for q in oks[0]["times"]}
        summary[v] = s
    pairs = [
        (sum(a["times"].values()), sum(b["times"].values()))
        for a, b in zip(raw["A"], raw["B"])
        if "returncode" not in a and "returncode" not in b
    ]
    # equal only if each variant has a successful rep and every successful
    # rep of either variant produced the same hash for every query
    hashes = [r["hashes"] for recs in raw.values() for r in _ok(recs)]
    equal = all(_ok(recs) for recs in raw.values()) and all(h == hashes[0] for h in hashes)
    return {
        "summary": summary,
        "pairs": len(pairs),
        "b_wins": sum(b < a for a, b in pairs),
        "outputs_equal": equal,
    }


def exit_code(result: dict) -> int:
    failed = any(s["failed_reps"] for s in result["summary"].values())
    return 0 if result["outputs_equal"] and not failed else 1


def warm_reps(confs: dict[str, dict[str, str]], sf_dir: str, queries: list[str], reps: int):
    from bench import WARM_CACHE_LAYOUT, bench_session
    from timing_explorer_spark.operators.dedup import release_cached
    from timing_explorer_spark.plans import all_queries
    from timing_explorer_spark.sources.tables import warm_cache

    spark = bench_session("ab-warm")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    keys = set(confs["A"]) | set(confs["B"])
    base = {k: spark.conf.get(k, None) for k in keys}

    def run_rep(v: str) -> dict:
        for k in keys:  # a key only the other variant sets goes back to base
            value = confs[v].get(k, base[k])
            if value is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, value)
        warm_cache(spark, sf_dir, **WARM_CACHE_LAYOUT)
        plans = {n: specs[n].build(spark, sf_dir) for n in sorted(queries)}
        for df in plans.values():  # untimed: codegen/JIT for this block's plans
            _noop(df)
        times = {}
        for name, df in plans.items():
            _noop(df)  # untimed block warm-up
            runs = []
            for _ in range(4):
                t0 = time.monotonic()
                _noop(df)
                runs.append(time.monotonic() - t0)
            times[name] = round(min(runs), 3)
        hashes = {name: output_hash(df) for name, df in plans.items()}
        # operator-persisted intermediates would carry this variant's confs
        # into the next block via plan matching
        release_cached()
        return {"times": times, "hashes": hashes}

    return interleave(reps, run_rep)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--a", default="", help="variant A conf overrides, k=v[,k=v]")
    ap.add_argument("--b", default="", help="variant B conf overrides, k=v[,k=v]")
    ap.add_argument("--queries", default="", help="registry names a,b (default: headline)")
    ap.add_argument("--sf", required=True, help="fixture directory")
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--cold", action="store_true", help="fresh subprocess per rep, no warm cache")
    args = ap.parse_args(argv)

    from timing_explorer_spark.plans import all_queries

    registry = all_queries()
    queries = sorted(filter(None, args.queries.split(","))) or sorted(
        n for n, s in registry.items() if s.headline
    )
    unknown = [q for q in queries if q not in registry]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    confs = {"A": parse_conf(args.a), "B": parse_conf(args.b)}

    if args.cold:
        raw = interleave(
            args.reps, lambda v: run_child(cold_argv(confs[v], args.sf, queries))
        )
    else:
        raw = warm_reps(confs, args.sf, queries, args.reps)
    result = summarize(raw)
    print(
        json.dumps(
            {
                "mode": "cold" if args.cold else "warm",
                "sf_dir": args.sf,
                "reps": args.reps,
                "queries": queries,
                "variants": confs,
                **result,
                "raw": raw,
            }
        )
    )
    return exit_code(result)


if __name__ == "__main__":
    raise SystemExit(main())
