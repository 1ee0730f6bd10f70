"""What Spark scheduled, read from the application status store: the
jobs of a job group and the launch and finish times of their tasks.
Tests assert on these counts and intervals instead of wall-clock
ratios, which depend on the box and its load."""

from __future__ import annotations

import itertools
from contextlib import contextmanager

_groups = itertools.count()


def _drain(spark) -> None:
    # the status store is fed asynchronously by the listener bus; wait
    # until every event of the finished jobs has been applied
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@contextmanager
def job_group(spark):
    """Run the body's Spark jobs under a fresh job group; yields its
    name."""
    sc = spark.sparkContext
    name = f"test-group-{next(_groups)}"
    sc.setJobGroup(name, name)
    try:
        yield name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def count_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``."""
    with job_group(spark) as group:
        out = fn()
    _drain(spark)
    return out, len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def task_spans(spark, group: str) -> dict[int, list[tuple[int, int]]]:
    """Stage id -> ``(launch ms, finish ms)`` of each finished task, for
    every stage the group's jobs ran."""
    _drain(spark)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    to_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    out: dict[int, list[tuple[int, int]]] = {}
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            info = tracker.getStageInfo(sid)
            if info is None:
                continue
            spans = []
            for t in to_java(store.taskList(sid, info.currentAttemptId, 1 << 20)):
                if t.duration().isDefined():
                    launch = t.launchTime().getTime()
                    spans.append((launch, launch + t.duration().get()))
            out[sid] = spans
    return out


def peak_overlap(spans: list[tuple[int, int]]) -> int:
    """Most intervals open at one instant (a task finishing at the
    millisecond another launches does not overlap it)."""
    events = sorted(
        [(start, 1) for start, _ in spans] + [(end, -1) for _, end in spans],
        key=lambda e: (e[0], e[1]),
    )
    peak = cur = 0
    for _, step in events:
        cur += step
        peak = max(peak, cur)
    return peak
