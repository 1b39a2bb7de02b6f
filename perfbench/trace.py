"""Spans, scheduler truth and executor totals, read from outside the engine.

``Tracer`` records a span around each call the benchmark makes into a layer
of the program (name, layer, start, end, parent, and the pass or drain it
belongs to), keeps the spans in memory and writes them as JSONL at the end.
Disabled, it records nothing and costs one attribute check per call.

``group_stats`` reads Spark's status store for the jobs of some job groups:
exact job, stage and task counts, the wall time no job was running, and the
executor totals of every stage that ran.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self, passes: set[str]) -> dict[str, float]:
        """Seconds per layer over the spans of ``passes``, each span minus
        the time its children cover."""
        spans = [s for s in self.spans if s["pass"] in passes]
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["layer"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


_STAGE_FIELDS = {
    "executor.run_s": lambda s: s.executorRunTime() / 1e3,
    "executor.cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "executor.gc_s": lambda s: s.jvmGcTime() / 1e3,
    "shuffle.read_bytes": lambda s: s.shuffleReadBytes(),
    "shuffle.write_bytes": lambda s: s.shuffleWriteBytes(),
    "scan.input_bytes": lambda s: s.inputBytes(),
    "spill.bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


def group_stats(spark, groups: list[str], window: tuple[float, float]) -> dict[str, float]:
    """Scheduler and executor totals over every job in ``groups``.

    ``scheduler.cluster_idle_s`` is the part of ``window`` (wall-clock
    start, end) during which none of these jobs was running."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = defaultdict(float)
    spans, stage_ids = [], set()
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            job = store.job(jid)
            out["scheduler.jobs"] += 1
            out["scheduler.stages"] += job.numCompletedStages()
            out["scheduler.tasks"] += job.numCompletedTasks()
            out["scheduler.failed_tasks"] += job.numFailedTasks()
            start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if start is not None:
                spans.append((start, end if end is not None else window[1]))
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage evicted or never attempted
            continue
        if st.status().toString() != "COMPLETE":
            continue
        for k, f in _STAGE_FIELDS.items():
            out[k] += f(st)
    busy, cur = 0.0, window[0]
    for a, b in sorted(spans):
        a, b = max(a, cur), min(b, window[1])
        if b > a:
            busy += b - a
            cur = b
    out["scheduler.cluster_idle_s"] = max(0.0, window[1] - window[0] - busy)
    return dict(out)
