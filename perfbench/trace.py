"""In-memory span tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own files, around calls into
the engine's public functions: name, start, end, parent span and
request id, plus counts taken at the same boundary. Spark jobs and
tasks started inside a span are read from the public ``StatusTracker``
after the listener bus drains, so the counts repeat exactly for a given
plan. Nothing is written until :meth:`Tracer.dump` runs at exit.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = spark.sparkContext

    def _job_ids(self) -> set[int]:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(self._sc.statusTracker().getJobIdsForGroup(None))

    def _tasks(self, job_ids) -> int:
        st = self._sc.statusTracker()
        n = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                stage = st.getStageInfo(s)
                n += stage.numCompletedTasks if stage else 0
        return n

    @contextmanager
    def span(self, name: str, rid=None, spark_counts: bool = False):
        """Time the block as span ``name``. Yields the span record, so
        the caller can attach counts (``rec["counts"][key] = n``)."""
        if not self.enabled:
            yield {"counts": {}}
            return
        rec = {
            "name": name, "rid": rid, "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "counts": {},
        }
        self.spans.append(rec)
        before = self._job_ids() if spark_counts else None
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if spark_counts:
                new = self._job_ids() - before
                rec["counts"]["spark.jobs"] = len(new)
                rec["counts"]["spark.tasks"] = self._tasks(new)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def counts(self, key: str) -> list[float]:
        return [s["counts"][key] for s in self.spans if key in s["counts"]]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover (children
        of one parent run one after another, so their durations add)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0)
                for s in self.spans}

    def layer_table(self) -> list[dict]:
        """Per layer (span name up to the first dot): calls, total and
        self seconds, and the sum of every count recorded on it."""
        selfs = self.self_times()
        rows: dict[str, dict] = {}
        for s in self.spans:
            layer = s["name"].split(".")[0]
            r = rows.setdefault(layer, {"layer": layer, "calls": 0,
                                        "total_s": 0.0, "self_s": 0.0,
                                        "counts": {}})
            r["calls"] += 1
            r["total_s"] += s["end"] - s["start"]
            r["self_s"] += selfs[s["id"]]
            for k, v in s["counts"].items():
                r["counts"][k] = r["counts"].get(k, 0) + v
        return sorted(rows.values(), key=lambda r: r["layer"])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def format_table(rows: list[dict]) -> str:
    lines = [f"{'layer':<12} {'calls':>6} {'total_s':>9} {'self_s':>9}  counts"]
    for r in rows:
        counts = " ".join(f"{k}={v:g}" for k, v in sorted(r["counts"].items()))
        lines.append(f"{r['layer']:<12} {r['calls']:>6} {r['total_s']:>9.3f} "
                     f"{r['self_s']:>9.3f}  {counts}")
    return "\n".join(lines)
