"""Per-layer measurement taken from outside the library.

Spans are recorded by the benchmark around each public call; job,
stage, task, shuffle and spill figures come from the JVM application
status store, which stays populated with ``spark.ui.enabled=false``.
Nothing here changes what the library executes: the traced mode only
labels each call with its own job group and reads the store between
calls.
"""

from __future__ import annotations

import json
import os
import statistics
import time

CORES = 4
LAYER_METRICS = (
    "build_s",
    "exec_s",
    "jobs",
    "stages",
    "shuffle_write_mb",
    "spill_mb",
    "task_skew",
    "core_util",
)
LAYER_UNITS = {
    "build_s": "s",
    "exec_s": "s",
    "jobs": "count",
    "stages": "count",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "task_skew": "ratio",
    "core_util": "ratio",
}
MB = 1024.0 * 1024.0


def vm_hwm_mb(pid) -> float:
    """Peak resident set (``VmHWM``) of a process, in MB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class StatusStore:
    """Reads what one call ran from the JVM's application status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def _drain(self) -> None:
        # listener events arrive asynchronously; wait until the store
        # has seen the end of every job the call ran
        self._sc.listenerBus().waitUntilEmpty(30000)

    def last_job_id(self) -> int:
        self._drain()
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def layer_metrics(self, after_job: int, wall_s: float) -> dict:
        """Jobs with an id above ``after_job`` belong to the call just
        run (one client, calls in sequence).  The job group labels them
        too, but jobs a call submits from its own worker threads do not
        inherit the group, so attribution goes by id."""
        self._drain()
        jobs = self._store.jobsList(None)  # newest first
        stage_ids = set()
        n_jobs = 0
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= after_job:
                break
            n_jobs += 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(j) for j in range(ids.size()))
        run_ms = 0
        shuffle_b = spill_b = 0
        n_stages = 0
        longest = None
        for sid in stage_ids:
            stage = self._store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            n_stages += 1
            ms = stage.executorRunTime()
            run_ms += ms
            shuffle_b += stage.shuffleWriteBytes()
            spill_b += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
            if longest is None or ms > longest[0]:
                longest = (ms, sid, stage.attemptId(), stage.numTasks())
        skew = 1.0
        if longest is not None:
            _, sid, attempt, n_tasks = longest
            tasks = self._store.taskList(sid, attempt, max(n_tasks, 1))
            durs = []
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    durs.append(d.get())
            med = statistics.median(durs) if durs else 0
            if med > 0:
                skew = max(durs) / med
        return {
            "jobs": n_jobs,
            "stages": n_stages,
            "shuffle_write_mb": shuffle_b / MB,
            "spill_mb": spill_b / MB,
            "task_skew": skew,
            "core_util": (run_ms / 1000.0) / (wall_s * CORES) if wall_s > 0 else 0.0,
        }


class Tracer:
    """Spans (name, start, end, parent span, workload), kept in memory
    and written out once, at the end of the run."""

    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list = []

    def record(self, name: str, start: float, end, parent, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                "workload": self.workload,
                **attrs,
            }
        )
        return sid

    def begin(self, name: str, parent, **attrs) -> int:
        return self.record(name, now(), None, parent, **attrs)

    def end(self, sid: int, **attrs) -> None:
        self.spans[sid].update(end=now(), **attrs)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
            fh.write("\n")


def now() -> float:
    return time.perf_counter()
