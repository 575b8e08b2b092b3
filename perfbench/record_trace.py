"""Record one traced run of a workload for the repository:

    python3 perfbench/record_trace.py --workload stream_live --seed 1

Runs the workload untraced and then traced with the same seed, each in its
own process, and writes ``perfbench/traces/<workload>.json``: the spans,
each layer's self time, the per-layer metrics, both runs' end-to-end metrics
and the tracing overhead (traced ÷ untraced − 1 per end-to-end metric).
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    report = ROOT / ".perfbench" / "reports" / f"record-{workload}-trace{trace}.json"
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--report", str(report),
    ]  # fmt: skip
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, timeout=600, check=True)
    line = json.loads(proc.stdout.decode().strip().splitlines()[-1])
    if not line["correct"]:
        raise SystemExit(f"{workload} trace={trace}: incorrect run: {report}")
    return json.loads(report.read_text())


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    args = ap.parse_args()

    plain = run(args.workload, args.seed, args.seconds, 0)
    traced = run(args.workload, args.seed, args.seconds, 1)
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "end_to_end_untraced": plain["end_to_end"],
        "end_to_end_traced": traced["end_to_end"],
        "tracing_overhead": {
            k: traced["end_to_end"][k] / v - 1 for k, v in plain["end_to_end"].items() if v
        },
        "self_s": traced["self_s"],
        "per_layer": traced["per_layer"],
        "attempted": traced["attempted"],
        "failures": traced["failures"],
        "detail": traced["detail"],
        "spans": traced["spans"],
    }
    path = HERE / "traces" / f"{args.workload}.json"
    path.parent.mkdir(exist_ok=True)
    path.write_text(json.dumps(out, indent=1) + "\n")
    print(path)


if __name__ == "__main__":
    main()
