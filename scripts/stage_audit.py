"""What the Spark stages of one probed op did, read from the status store.

The scale probes profile every op the same way: ``mark`` the jobs seen so
far, run the op, then read each stage that completed after the mark with
``stages`` — its task count, CPU time, shuffle bytes and the median and
max per-task shuffle read. They come from the driver's status store, the
store the Spark UI renders, so no UI server or port is involved (sessions
may keep ``spark.ui.enabled=false``). The store keeps the last
``spark.ui.retainedJobs`` jobs and ``spark.ui.retainedStages`` stages;
probes that run long ops raise both with ``RETAIN``.

``audit`` classifies task skew: a stage is profiled when its largest task
reads at least ``min_read`` shuffle bytes (below that the task floor is
noise), it exceeds the bound when that task reads more than ``SKEW_BOUND``
times the median task, and an exceedance is a violation only when the
largest task also reads more than ``floor`` bytes (a material straggler).
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

SKEW_BOUND = 4.0
RETAIN = {"spark.ui.retainedJobs": "5000", "spark.ui.retainedStages": "5000"}
DRAIN_MS = 600_000  # the no-argument drain gives up after 10 s


def _store(spark):
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(DRAIN_MS)  # every finished task is recorded
    return sc.statusStore()


def mark(spark) -> tuple[int, int]:
    """(newest job id, its newest stage id). Call between actions: every
    job's result stage gets a fresh id, so the newest job holds the max."""
    jobs = _store(spark).jobsList(None)  # newest job first
    if jobs.isEmpty():
        return -1, -1
    ids = jobs.apply(0).stageIds()
    return jobs.apply(0).jobId(), max(ids.apply(i) for i in range(ids.size()))


def stages(spark, since: tuple[int, int]) -> list[dict]:
    """Every stage completed by a job after ``since`` (a ``mark``), newest
    first as the UI lists them. Stages reused from before the mark, skipped
    ones and ones the store has already evicted are not included."""
    store = _store(spark)
    gateway = spark.sparkContext._gateway
    quantiles = gateway.new_array(gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    jobs = store.jobsList(None)
    sids: set[int] = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobId() <= since[0]:
            break
        ids = job.stageIds()
        sids.update(s for s in (ids.apply(k) for k in range(ids.size())) if s > since[1])
    out = []
    for sid in sorted(sids, reverse=True):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted: past retainedStages, skipped go first
            continue
        if st.status().toString() != "COMPLETE":
            continue
        task_read = None
        if st.shuffleReadBytes():
            summary = store.taskSummary(sid, st.attemptId(), quantiles)
            if summary.isDefined():
                q = summary.get().shuffleReadMetrics().readBytes()
                task_read = (q.apply(0), q.apply(1))
        out.append(
            {
                "stage": sid,
                "name": st.name()[:60],
                "tasks": st.numCompleteTasks(),
                "cpu_ms": round(st.executorCpuTime() / 1e6, 1),
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "task_read": task_read,  # (median, max) task shuffle read
            }
        )
    return out


def _skew(stage: dict, min_read: int) -> dict | None:
    if not stage["task_read"]:
        return None
    median, mx = stage["task_read"]
    if mx < min_read:
        return None
    return {
        "stage": stage["stage"],
        "name": stage["name"],
        "median_task_shuffle_read": int(median),
        "max_task_shuffle_read": int(mx),
        "ratio": round(mx / max(median, 1.0), 2),
    }


def audit(found: list[dict], *, min_read: int, floor: int = 0) -> dict:
    """Shuffle totals and task-skew classification of ``found`` (the
    output of ``stages``)."""
    skews = [k for s in found if (k := _skew(s, min_read))]
    over = [k for k in skews if k["ratio"] > SKEW_BOUND]
    return {
        "stages": len(found),
        "stages_profiled": len(skews),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in found),
        "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in found),
        "worst_task_skew": max(skews, key=lambda k: k["ratio"], default=None),
        "violations": [k for k in over if k["max_task_shuffle_read"] > floor],
        "immaterial": [k for k in over if k["max_task_shuffle_read"] <= floor],
    }
