"""Task-level skew diagnostics: measure hot-key incidents with
per-partition metrics, not wall time.

``task_shuffle_skew`` runs one Spark action and reports the per-task
shuffle-read record distribution of the heaviest shuffle stage it ran —
the number that actually pages someone at 100 TB (one reducer task
dragging a degenerate band key while its 999 siblings finish). Wall
time hides this on a warm 32-core box; task metrics do not.

Metrics come from the driver's status store (``statusTracker`` for the
action's jobs, ``statusStore()`` for stage and task data), which Spark
keeps with the UI off, so it works on the engine's default session.
"""

from __future__ import annotations

import statistics
import uuid

GROUP_KEY = "spark.jobGroup.id"


def task_shuffle_skew(spark, action) -> dict:
    """Run ``action()`` (any Spark action) under a job group of its own
    and return the per-task shuffle-read record skew of the heaviest
    shuffle-read stage of that group's jobs::

        {"stage_id", "n_tasks", "n_shuffle_tasks", "max_records",
         "median_records", "ratio", "total_records"}

    ``ratio`` = max/median over tasks that read any shuffle data —
    the planted-hot-key contract is ``ratio <= ~4`` after mitigation
    (AQE skew split, salting, or broadcast), vs ~10-30 unmitigated.
    Tasks reading zero shuffle records are excluded from the median so
    AQE's empty-partition coalescing cannot flatter the denominator.
    """
    sc = spark.sparkContext
    group = f"task-shuffle-skew-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty(GROUP_KEY)
    sc.setLocalProperty(GROUP_KEY, group)
    try:
        action()
    finally:
        sc.setLocalProperty(GROUP_KEY, prev)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    tracker, store = sc.statusTracker(), jsc.statusStore()
    stage_ids = {
        sid
        for j in tracker.getJobIdsForGroup(group)
        if (info := tracker.getJobInfo(j)) is not None
        for sid in info.stageIds
    }
    stages = [
        sd
        for sd in map(store.lastStageAttempt, sorted(stage_ids))
        if sd.status().toString() == "COMPLETE"
    ]
    if not stages:
        raise RuntimeError("action produced no completed stages")
    sd = max(stages, key=lambda s: s.shuffleReadRecords())
    sid, att = sd.stageId(), sd.attemptId()
    if sd.shuffleReadRecords() == 0:
        raise RuntimeError("no stage of the action read shuffle data")
    # every retained task: a capped fetch could drop the hot reducer,
    # silently understating the exact number this probe exists to surface
    tasks = store.taskList(sid, att, 2**31 - 1)
    it, recs = tasks.iterator(), []
    while it.hasNext():
        metrics = it.next().taskMetrics()
        if metrics.isDefined():
            recs.append(metrics.get().shuffleReadMetrics().recordsRead())
    expected = sd.numCompleteTasks()
    if tasks.size() < expected:
        raise RuntimeError(
            f"taskList truncated: fetched {tasks.size()} of {expected} "
            f"completed tasks for stage {sid}.{att}"
        )
    nonzero = [r for r in recs if r > 0]
    if not nonzero:
        raise RuntimeError(
            f"stage {sid}.{att} reports shuffleReadRecords > 0 but no "
            "fetched task carried shuffle-read metrics (metrics not yet "
            "flushed? re-run the action)"
        )
    med = statistics.median(nonzero)
    return {
        "stage_id": sid,
        "n_tasks": len(recs),
        "n_shuffle_tasks": len(nonzero),
        "max_records": max(nonzero),
        "median_records": med,
        "ratio": max(nonzero) / med if med else float("inf"),
        "total_records": sum(recs),
    }
