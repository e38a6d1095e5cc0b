"""Measurement helpers: summary statistics, Spark work counts, memory,
and the host calibration kernel."""

from __future__ import annotations

import resource
import statistics
import time
from collections.abc import Sequence

from pyspark.sql import SparkSession


def tail(xs: Sequence[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``; None with fewer than eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 11  # index of the sample with exactly ten above it
    return sorted(xs)[k], 100.0 * (k + 1) / n


def growth_ratio(xs: Sequence[float]) -> float:
    """Median over the last fifth of a run over the median over its
    first fifth."""
    fifth = max(1, len(xs) // 5)
    return statistics.median(xs[-fifth:]) / statistics.median(xs[:fifth])


class SparkCounts:
    """Jobs, stages and tasks run between two points, read from the
    SparkContext status tracker.

    Job ids are diffed rather than tagged with a job group: job groups
    are thread-local, and the gRPC server runs requests on its own
    thread. With one closed-loop client, requests never overlap, so the
    new job ids between two snapshots belong to the request in between.
    """

    def __init__(self, spark: SparkSession) -> None:
        self.tracker = spark.sparkContext.statusTracker()

    def snapshot(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    def since(self, before: set[int]) -> dict[str, int]:
        """Counts for jobs started after ``before``. Status events arrive
        on an asynchronous listener bus, so poll until every new job has
        finished and two reads agree."""
        deadline = time.monotonic() + 10.0
        last = None
        while True:
            counts, finished = self._read(before)
            if finished and counts == last:
                return counts
            if time.monotonic() > deadline:
                raise RuntimeError(f"Spark status did not settle: {counts}")
            last = counts
            time.sleep(0.05)

    def _read(self, before: set[int]) -> tuple[dict[str, int], bool]:
        new_jobs = sorted(set(self.tracker.getJobIdsForGroup(None)) - before)
        finished = True
        stage_ids: set[int] = set()
        for jid in new_jobs:
            info = self.tracker.getJobInfo(jid)
            if info is None or info.status not in ("SUCCEEDED", "FAILED"):
                finished = False
                continue
            stage_ids.update(info.stageIds)
        tasks_per_stage = []
        for sid in sorted(stage_ids):
            info = self.tracker.getStageInfo(sid)
            # A stage whose shuffle output was reused is listed by its job
            # but runs no task: count executed stages only.
            if info is not None and info.numCompletedTasks > 0:
                tasks_per_stage.append(info.numCompletedTasks)
        return {
            "jobs": len(new_jobs),
            "stages": len(tasks_per_stage),
            "tasks": sum(tasks_per_stage),
            "widest_stage_tasks": max(tasks_per_stage, default=0),
        }, finished


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark: SparkSession) -> float:
    """Peak resident set of this Python process plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = _vm_hwm_kb(spark.sparkContext._gateway.proc.pid)
    return (py_kb + jvm_kb) / 1024.0


def calibration_s(spark: SparkSession) -> float:
    """Median time of a fixed CPU-bound Spark job (codegen'd xxhash64 over
    a generated range, reduced to one sum), the shape of bench.py's
    calibration scaled to four cores. It depends on no input and no
    engine code path, so it moves only with the host."""
    def one() -> float:
        t0 = time.perf_counter()
        (
            spark.range(0, 200_000_000, 1, 16)
            .selectExpr("xxhash64(id) % 1000 AS h")
            .selectExpr("sum(h) AS s")
            .write.format("noop").mode("overwrite").save()
        )
        return time.perf_counter() - t0

    one()
    return statistics.median([one() for _ in range(3)])
