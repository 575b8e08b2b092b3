"""scripts/stage_audit.py: the skew classification on fake stage records
(no Spark), and the mark/stages diff on the shared session."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

import stage_audit  # noqa: E402

MB = 1024 * 1024


def _stage(sid: int, median: float, mx: float, write: int = 0) -> dict:
    return {
        "stage": sid,
        "name": f"s{sid}",
        "tasks": 4,
        "cpu_ms": 1.0,
        "shuffle_read_bytes": int(median * 3 + mx),
        "shuffle_write_bytes": write,
        "task_read": (median, mx),
    }


def test_skew_classification():
    found = [
        _stage(5, 1 * MB, 2 * MB, write=10),  # in bound
        _stage(4, 1 * MB, 8 * MB, write=20),  # over the bound, under the floor
        _stage(3, 1 * MB, 40 * MB),  # over the bound and material
        _stage(2, 0.1 * MB, 0.5 * MB),  # under the min-read floor: not profiled
        {**_stage(1, 0, 0), "task_read": None},  # no shuffle read
    ]
    a = stage_audit.audit(found, min_read=1 * MB, floor=16 * MB)
    assert (a["stages"], a["stages_profiled"], a["shuffle_write_bytes"]) == (5, 3, 30)
    assert [k["stage"] for k in a["violations"]] == [3]
    assert [k["stage"] for k in a["immaterial"]] == [4]
    assert a["worst_task_skew"] == {
        "stage": 3,
        "name": "s3",
        "median_task_shuffle_read": 1 * MB,
        "max_task_shuffle_read": 40 * MB,
        "ratio": 40.0,
    }
    # without a materiality floor every exceedance is a violation
    no_floor = stage_audit.audit(found, min_read=1 * MB)
    assert [k["stage"] for k in no_floor["violations"]] == [4, 3]
    # a lower min-read floor profiles the small stage too (ratio 5 > 4)
    low = stage_audit.audit(found, min_read=0.5 * MB)
    assert low["stages_profiled"] == 4
    assert [k["stage"] for k in low["violations"]] == [4, 3, 2]


def test_mark_excludes_earlier_jobs(spark):
    from pyspark.sql import functions as F

    def grouped(n: int, parts: int):
        spark.range(0, n, 1, parts).groupBy((F.col("id") % 7).alias("g")).count().write.mode(
            "overwrite"
        ).format("noop").save()

    first = stage_audit.mark(spark)
    grouped(1000, 3)
    second = stage_audit.mark(spark)
    grouped(100_000, 4)
    both = stage_audit.stages(spark, first)
    after = stage_audit.stages(spark, second)

    assert len(after) >= 2
    assert sum(s["shuffle_write_bytes"] for s in after) > 0
    assert {s["tasks"] for s in after} >= {4}  # the 4-partition map stage
    assert 3 not in {s["tasks"] for s in after}  # the earlier job's map stage
    before = [s for s in both if s["stage"] not in {a["stage"] for a in after}]
    assert before and max(s["stage"] for s in before) < min(s["stage"] for s in after)
    assert all(s["stage"] in {b["stage"] for b in both} for s in after)


def test_evicted_stage_is_skipped(spark, monkeypatch):
    """A job can still list a stage the store has evicted (skipped stages go
    first once it holds more than retainedStages); the lookup then throws."""
    from pyspark.sql import functions as F

    since = stage_audit.mark(spark)
    spark.range(0, 10_000, 1, 4).groupBy((F.col("id") % 5).alias("g")).count().write.mode(
        "overwrite"
    ).format("noop").save()
    found = stage_audit.stages(spark, since)
    evicted = found[0]["stage"]
    real = stage_audit._store

    class Evicting:
        def __init__(self, store):
            self._store = store

        def __getattr__(self, name):
            return getattr(self._store, name)

        def lastStageAttempt(self, sid):
            # a real lookup of a stage id the store does not hold
            return self._store.lastStageAttempt(10**9 if sid == evicted else sid)

    monkeypatch.setattr(stage_audit, "_store", lambda s: Evicting(real(s)))
    assert stage_audit.stages(spark, since) == found[1:]
