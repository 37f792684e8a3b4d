"""Tracing for the benchmark's traced runs, from outside the package.

Three sources, none of which runs a Spark job:

* :class:`Tracer` records spans around the benchmark's own calls into
  each layer (query build, forced planning, execution, cache release).
  Spans live in memory and are written out once, at the end of the run.
* :class:`StatusStore` reads Spark's own status store for the jobs of one
  job group: jobs, stages, tasks, executor run/CPU/GC time, input/output
  bytes, shuffle bytes, fetch wait and spill.  The store is filled even
  with the UI disabled; it is read only after the listener bus drains.
* :func:`plan_digest` forces ``queryExecution().executedPlan()`` (under
  AQE: the initial plan, no stage runs) and counts exchanges and
  Python-evaluation nodes in it.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_PY_NODE = re.compile(r"^\W*(\w*(?:EvalPython|InPandas|InArrow|PythonUDTF)\w*)")
_EXCHANGE = re.compile(r"^\W*(?:Exchange|BroadcastExchange|ReusedExchange)\b")


class Tracer:
    """In-memory span recorder.  A span has a name, a start, an end, a
    parent and a trace id shared by every span of one query execution."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace or (parent["trace"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time covered
        by its children (children of one span never overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c)
        return out

    def dump(self, path: str, meta: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": rows}, fh, indent=None)


_STAGE_FIELDS = (
    ("run_ms", "executorRunTime"),
    ("cpu_ns", "executorCpuTime"),
    ("gc_ms", "jvmGcTime"),
    ("input_b", "inputBytes"),
    ("output_b", "outputBytes"),
    ("shuffle_read_b", "shuffleReadBytes"),
    ("shuffle_write_b", "shuffleWriteBytes"),
    ("fetch_wait_ms", "shuffleFetchWaitTime"),
    ("spill_mem_b", "memoryBytesSpilled"),
    ("spill_disk_b", "diskBytesSpilled"),
)


class StatusStore:
    """Per-job-group counters from the application status store."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def drain(self) -> None:
        """Wait until every listener event posted so far is in the store."""
        self._bus.waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def group(self, group: str) -> dict:
        """Counters of every stage that ran for ``group``'s jobs: totals,
        plus the per-stage rows (``per_stage``) for filtered sums."""
        tot = {k: 0 for k, _ in _STAGE_FIELDS}
        tot.update(jobs=0, stages=0, tasks=0, failed_tasks=0, per_stage=[])
        seen: set[int] = set()
        for jid in self.job_ids(group):
            tot["jobs"] += 1
            ids = self._store.job(jid).stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    # gone from the store, which keeps the newest stages
                    # only: an earlier job's stage this job reused, skipped
                    continue
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its shuffle output was reused
                row = {k: getattr(st, f)() for k, f in _STAGE_FIELDS}
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                tot["failed_tasks"] += st.numFailedTasks()
                for k, v in row.items():
                    tot[k] += v
                tot["per_stage"].append(row)
        return tot


def plan_digest(df) -> dict:
    """Exchange and Python-evaluation node counts of the executed plan."""
    text = df._jdf.queryExecution().executedPlan().toString()
    lines = text.splitlines()
    return {
        "exchanges": sum(1 for ln in lines if _EXCHANGE.match(ln)),
        "python_eval_nodes": sum(1 for ln in lines if _PY_NODE.match(ln)),
    }
