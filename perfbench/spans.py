"""Tracing for the benchmark's traced runs, recorded from the benchmark's side.

``Tracer`` keeps spans in memory (name, layer, start, end, parent span,
request id) around each call into the engine; ``write`` saves them once at the
end. ``SparkCounters`` reads Spark's status store for the jobs of one job
group (jobs, stages, tasks, shuffle bytes, executor run/CPU/GC time), and
``StreamProgress`` collects Structured Streaming progress events.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.request: int | None = None

    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            return nullcontext({})
        return self._span(name, layer, attrs)

    @contextmanager
    def _span(self, name: str, layer: str, attrs: dict):
        s = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "request": self.request,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def self_seconds(self, within: dict) -> dict[str, float]:
        """Self time per layer over the spans nested in ``within``: each
        span's duration minus the part its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}

        def walk(s):
            kids = children.get(s["id"], [])
            own = (s["end"] - s["start"]) - sum(k["end"] - k["start"] for k in kids)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
            for k in kids:
                walk(k)

        walk(within)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


COUNTER_KEYS = (
    "jobs", "stages", "tasks", "shuffle_read_b", "shuffle_write_b",
    "run_ms", "cpu_ms", "gc_ms",
)


class SparkCounters:
    """Per-job-group counts from ``SparkContext.statusStore()``."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def drain_events(self) -> None:
        """Wait until the listener bus has applied every posted event, so
        the status store (and Python listeners) are up to date."""
        self._bus.waitUntilEmpty(30_000)

    def read(self, groups: list[str]) -> dict[str, float]:
        self.drain_events()
        out = dict.fromkeys(COUNTER_KEYS, 0.0)
        tracker = self._sc.statusTracker()
        for group in groups:
            for job_id in tracker.getJobIdsForGroup(group):
                job = self._store.job(job_id)
                out["jobs"] += 1
                out["tasks"] += job.numCompletedTasks()
                ids = job.stageIds()
                for i in range(ids.size()):
                    attempts = self._store.stageData(ids.apply(i), False, None, False, None)
                    for a in range(attempts.size()):
                        st = attempts.apply(a)
                        if str(st.status()) == "SKIPPED":
                            continue
                        out["stages"] += 1
                        out["shuffle_read_b"] += st.shuffleReadBytes()
                        out["shuffle_write_b"] += st.shuffleWriteBytes()
                        out["run_ms"] += st.executorRunTime()
                        out["cpu_ms"] += st.executorCpuTime() / 1e6
                        out["gc_ms"] += st.jvmGcTime()
        return out

    def cached_mb(self) -> float:
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos) / 2**20

    def jvm_peak_rss_mb(self) -> float:
        pid = self._sc._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0


class StreamProgress(StreamingQueryListener):
    """Run ids and per-micro-batch progress of every streaming query."""

    def __init__(self):
        self.run_ids: list[str] = []
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append({
            "run_id": str(p.runId),
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
