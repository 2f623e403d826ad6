"""Spark's own records, read from outside the program.

``JobGroups`` runs a call under its own Spark job group and then
reads the group's jobs and stages back from the status store (it is
kept with ``spark.ui.enabled=false``). ``ProgressLog`` is a
``StreamingQueryListener`` that keeps every micro-batch's progress.
"""

from __future__ import annotations

import itertools
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

#: Stage fields summed per group -> (key, scale to seconds / MB / 1).
_STAGE_SUMS = {
    "executorRunTime": ("task_s", 1e-3),
    "executorCpuTime": ("cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_mb", 2.0 ** -20),
    "memoryBytesSpilled": ("spill_mb", 2.0 ** -20),
    "diskBytesSpilled": ("spill_mb", 2.0 ** -20),
    "numCompleteTasks": ("tasks", 1),
}


class JobGroups:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._ids = itertools.count()
        #: Wall time spent reading the records back: what tracing adds
        #: to a traced call.
        self.overhead_s = 0.0

    @contextmanager
    def group(self, stats: dict):
        """Run the body under a fresh job group; fill ``stats`` with
        its wall time (the read-back excluded) and summed stage data
        when the body returns."""
        gid = f"perfbench-{next(self._ids)}"
        self.sc.setJobGroup(gid, gid)
        t0 = time.perf_counter()
        try:
            yield stats
        finally:
            stats["wall_s"] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        t1 = time.perf_counter()
        stats.update(self.read(gid))
        self.overhead_s += time.perf_counter() - t1

    def read(self, gid: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out: dict = defaultdict(float)
        out["jobs"] = out["stages"] = 0
        seen: set[int] = set()
        # (call site, input bytes, scans) of each stage that read input.
        inputs: list[tuple[str, int, list[str]]] = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(gid):
            out["jobs"] += 1
            stage_ids = store.job(job_id).stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                stage = store.lastStageAttempt(sid)
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for field, (key, scale) in _STAGE_SUMS.items():
                    out[key] += getattr(stage, field)() * scale
                if stage.inputBytes():
                    scans = _scans(store.operationGraphForStage(sid)
                                   .rootCluster())
                    inputs.append((stage.name(), stage.inputBytes(), scans))
                    if any(s.startswith("Scan binaryFile") for s in scans):
                        out["binary_input_mb"] += stage.inputBytes() / 2**20
        return {**out, "stage_inputs": inputs}


def _scans(cluster) -> list[str]:
    """Names of the scan operators in a stage's operation graph."""
    out = []
    children = cluster.childClusters()
    for i in range(children.size()):
        child = children.apply(i)
        if child.name().startswith("Scan "):
            out.append(child.name().strip())
        out.extend(_scans(child))
    return out


#: durationMs phases kept per micro-batch.
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets", "triggerExecution")


class ProgressLog(StreamingQueryListener):
    """Every micro-batch progress as {phase: seconds, "rows": n}."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        row = {k: p.durationMs.get(k, 0) / 1e3 for k in PHASES}
        row["rows"] = p.numInputRows
        self.batches.append(row)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass
