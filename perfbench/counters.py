"""Exact per-op costs, counted from outside the engine.

Spark work is counted by job-id range: the scheduler hands out job ids
from one sequence, so the jobs an op scheduled are exactly the ids
between two reads of ``numTotalJobs()``, whatever job group (if any)
the library sets on them. Stages and tasks come from the status
tracker for those jobs, read right after the op: the status store
keeps only ``spark.ui.retainedJobs`` jobs, so nothing waits for the
end of the run.

Storage work is counted from the files that appear under the store
roots: parquet bytes and files written, and ACID commits (one
``_manifests/v<N>.json`` per commit).
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass(frozen=True)
class SparkCost:
    jobs: int
    stages: int
    tasks: int


class JobCounter:
    """Job-id ranges and their stage/task counts."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._scheduler = sc._jsc.sc().dagScheduler()
        self._bus = sc._jsc.sc().listenerBus()
        self._tracker = sc.statusTracker()

    def mark(self) -> int:
        """The id the next job will get (synchronous, no bus wait)."""
        return self._scheduler.numTotalJobs()

    def cost(self, first: int, end: int) -> SparkCost:
        """Jobs ``first <= id < end`` and the stages/tasks they ran.
        A stage reused from an earlier job (skipped) has no completed
        tasks and is not counted."""
        self._bus.waitUntilEmpty()
        stage_ids: set[int] = set()
        for job in range(first, end):
            info = self._tracker.getJobInfo(job)
            if info is None:
                raise RuntimeError(f"Spark job {job} is no longer in the "
                                   "status store; count sooner")
            stage_ids.update(info.stageIds)
        stages = tasks = 0
        for sid in stage_ids:
            info = self._tracker.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
        return SparkCost(end - first, stages, tasks)


@dataclass(frozen=True)
class FileCost:
    bytes_written: int
    files_written: int
    commits: int

    @property
    def mb_written(self) -> float:
        return self.bytes_written / 1e6


def snapshot(roots: list[str]) -> dict[str, int]:
    """Every parquet file and manifest under ``roots``, with its size."""
    files: dict[str, int] = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                if n.endswith(".parquet") or (
                        os.path.basename(d) == "_manifests"
                        and n.startswith("v") and n.endswith(".json")):
                    p = os.path.join(d, n)
                    files[p] = os.path.getsize(p)
    return files


def file_cost(before: dict[str, int], after: dict[str, int]) -> FileCost:
    """What appeared between two snapshots. Committed files are
    immutable, so a path present in both is not new work."""
    new = [p for p in after if p not in before]
    parquet = [p for p in new if p.endswith(".parquet")]
    return FileCost(
        bytes_written=sum(after[p] for p in parquet),
        files_written=len(parquet),
        commits=sum(1 for p in new if p.endswith(".json")),
    )
