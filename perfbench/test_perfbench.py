"""Tests of the benchmark itself, at tiny sizes:

    python3 -m pytest perfbench -q

Each workload runs in one shared session and must emit every end-to-end
metric (untraced) and every per-layer metric (traced) with its unit; each
correctness check must fail when fed a wrong expected count or hash.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import workloads  # noqa: E402

TINY_SF = str(HERE / "fixtures" / "sf0.001")
TINY = {"stream_live": {"min_windows": 1}, "query_headline": {"sf_dir": TINY_SF}}
SECONDS = {"stream_live": 3.0, "query_headline": 0.0}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("perfbench-session")
    os.environ["TMPDIR"] = str(work)
    s = run.start_session(work)
    yield s
    run.stop_session(s)


@pytest.fixture(autouse=True)
def few_reps(monkeypatch):
    monkeypatch.setattr(workloads, "HEADLINE_MIN_REPS", 1)


@pytest.mark.parametrize("trace", [False, True], ids=["untraced", "traced"])
@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_workload_emits_every_metric(spark, tmp_path, workload, trace):
    line, report = run.measure(
        spark, workload, 3, SECONDS[workload], trace, str(tmp_path), 1.0, **TINY[workload]
    )
    assert report["failures"] == []
    assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in line["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in line["metrics"].values())
    else:
        assert report["spans"] and line["metrics"]["exec.jobs"]["value"] > 0


def test_live_check_fails_on_wrong_count(tmp_path):
    gen = workloads.LiveGenerator(str(tmp_path), seed=0)
    # one primed tick, then the open loop from 0.3 s into the next second
    gen.ticks = [100_001] + list(range(100_013, 100_040))
    full = gen.expected_count(10_003 * 1_000_000, "k00")
    partial = gen.expected_count(10_002 * 1_000_000, "k00")
    assert gen.expected_count(10_001 * 1_000_000, "k00") == 50
    assert full == 500 and partial == 350
    good = [("k00", 10_002 * 1_000_000, partial), ("k00", 10_003 * 1_000_000, full)]
    assert workloads.check_live(gen, good) == []
    assert workloads.check_live(gen, [("k00", 10_003 * 1_000_000, full - 1)])
    assert workloads.check_live(gen, [("k07", 10_002 * 1_000_000, full)])


def test_live_generator_stamps_and_lands_every_tick(tmp_path):
    import pyarrow.parquet as pq

    gen = workloads.LiveGenerator(str(tmp_path), seed=0)
    gen.prime()
    gen.start()
    try:
        import time

        time.sleep(0.55)
    finally:
        gen.stop()
    files = sorted(p for p in os.listdir(tmp_path) if not p.startswith("."))
    assert len(files) == len(gen.ticks) == len(gen.late_ms) + 1 >= 4
    assert gen.ticks == sorted(set(gen.ticks))
    k = gen.ticks[-1]
    t = pq.read_table(tmp_path / files[-1])
    assert t.num_rows == gen.per_tick
    ts = t.column("ts").cast("int64").to_pylist()
    assert ts[0] == k * gen.tick_us and ts[-1] < (k + 1) * gen.tick_us
    last = max(i for i, key in enumerate(t.column("key").to_pylist()) if key == "k05")
    assert gen.last_event_us((k + 1) * gen.tick_us, "k05") == ts[last]


def test_headline_check_fails_on_wrong_hash(spark):
    from timing_explorer_spark.plans import all_queries

    specs = all_queries()
    spec = specs["q_events_per_window"]
    df = spec.build(spark, TINY_SF)
    assert workloads.check_headline(spec.name, df, spec.oracle, TINY_SF) == []
    other = specs["q01_pricing_summary"].oracle
    assert workloads.check_headline(spec.name, df, other, TINY_SF)


def test_covered_and_self_times():
    from spans import Tracer, covered

    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3)], 1, 2) == 1
    t = Tracer(enabled=True)
    root = t.add("bench.run", 0.0, 10.0)
    t.add("exec.noop", 1.0, 4.0, root)
    t.add("plans.build", 3.0, 5.0, root)
    assert t.self_times() == {"bench": 6.0, "exec": 3.0, "plans": 2.0}
