"""The repository's benchmark: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload stream_live --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout, which must hold ``timing_explorer_spark``
next to ``perfbench``. Everything the run writes (generator files,
checkpoints, Spark's local dirs, the report) goes under ``.perfbench/`` in
that checkout; the scratch part is deleted at exit.

The last line of stdout is ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
spans and Spark's counters are recorded around every layer call and the
metrics are the per-layer ones. The full report (failures, per-query detail,
and for traced runs the spans and per-layer self times) is written to
``--report`` (default ``.perfbench/reports/<workload>-seed<seed>-trace<t>.json``).
"""

from __future__ import annotations

import time

T0_MONO = time.monotonic()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ("stream_live", "query_headline")
HEAP = "1g"  # driver JVM heap

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "cold_s": "s",
    "work_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "peak_rss_mb": "MB",
}

LAYER_SELF = ("session", "sources", "plans", "exec", "stream", "sink", "check", "bench")

PER_LAYER = {  # name -> unit; a layer a workload does not use reads 0
    "session.start_s": "s",
    "sources.warm_cache_s": "s",
    "sources.gen_late_ms_p99": "ms",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.pre_job_ms": "ms",
    "exec.driver_gap_ms": "ms",
    "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.codegen_compiles": "count",
    "exec.codegen_compile_ms": "ms",
    "exec.storage_mem_bytes": "bytes",
    "stream.batches": "count",
    "stream.batch_ms_p50": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.backlog_files_end": "count",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.rows_dropped_by_watermark": "count",
    "sink.foreach_batch_ms": "ms",
    **{f"{layer}.self_s": "s" for layer in LAYER_SELF},
    "trace.probe_s": "s",
}


def start_session(work: Path):
    """The engine's session on local[N], N = the CPUs this process may use,
    with the confs of bench.py's headline run. Environment variables and
    static confs keep every file Spark writes inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    # Spark lets this variable override spark.local.dir, so set it rather
    # than inherit one that points outside the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # Both JVMs spark-submit starts (launcher and driver) keep their
    # temporary files in the run's scratch directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    # Python UDF workers are started by the JVM and import the package by
    # path, so the checkout root must be on their PYTHONPATH.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    from timing_explorer_spark.compat import ensure_protobuf
    from timing_explorer_spark.session import get_spark

    ensure_protobuf()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=8,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # A fixed, pre-touched heap: peak RSS then does not depend on
            # when the collector chooses to grow the heap.
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        },
    )
    for k, v in {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.inMemoryColumnarStorage.batchSize": "65536",
        "spark.sql.join.preferSortMergeJoin": "false",
    }.items():
        spark.conf.set(k, v)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns) to
    exit; pyspark alone leaves the gateway JVM running until interpreter
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None or getattr(gateway, "proc", None) is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak RSS of the driver JVM plus this Python driver."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024


def measure(spark, workload: str, seed: int, seconds: float, trace: bool, work: str, session_s: float, **sizes) -> tuple[dict, dict]:
    """Run one workload in ``spark``; return (result line, report)."""
    from spans import Tracer
    from timing_explorer_spark.streaming.metrics import nearest_rank
    from workloads import WORKLOADS

    tracer = Tracer(spark, enabled=trace)
    tracer.add("session.start", time.time() - session_s, time.time())
    with tracer.span("bench.run"):
        res = WORKLOADS[workload](spark, tracer, seed, seconds, work, **sizes)
    lat = sorted(res.latencies_ms)
    e2e = {
        "setup_s": session_s + res.prep_s,
        "cold_s": res.cold_s,
        "work_per_s": res.work_per_s,
        "latency_p50_ms": nearest_rank(lat, 0.50),
        "latency_p90_ms": nearest_rank(lat, 0.90),
        "peak_rss_mb": peak_rss_mb(spark),
    }
    report = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "end_to_end": e2e,
        "samples": len(lat),
        "attempted": res.attempted,
        "failures": res.failures,
        "detail": res.detail,
    }
    if trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(res.layers)
        layers.update(tracer.totals())
        layers["session.start_s"] = session_s
        self_s = tracer.self_times()
        layers.update({f"{k}.self_s": self_s.get(k, 0.0) for k in LAYER_SELF})
        layers["trace.probe_s"] = tracer.probe_s
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        report.update({"per_layer": layers, "self_s": self_s, "spans": tracer.spans})
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    line = {
        "correct": not res.failures,
        "attempted": res.attempted,
        "failed": len({f["op"] for f in res.failures}),
        "metrics": metrics,
    }
    return line, report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", type=Path, default=None)
    args = ap.parse_args(argv)

    if not (ROOT / "timing_explorer_spark" / "__init__.py").is_file():
        print(f"perfbench: {ROOT} holds no timing_explorer_spark package", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    report_path = args.report or (
        ROOT / ".perfbench" / "reports" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )

    spark = None
    try:
        spark = start_session(work)
        session_s = time.monotonic() - T0_MONO
        line, report = measure(
            spark, args.workload, args.seed, args.seconds, bool(args.trace), str(work), session_s
        )
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for f in report["failures"]:
        print(f"perfbench: FAILED {f['op']}: {f['error']}: {f['detail']}", file=sys.stderr)
    report_path.parent.mkdir(parents=True, exist_ok=True)
    report_path.write_text(json.dumps(report, indent=1) + "\n")
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
