"""Spans and Spark counters for the traced run.

A span records name, start, end and the span that caused it (its parent).
Spans stay in memory and are written once, when the run ends. When tracing
is off every ``span`` is a no-op, so the untraced runs carry no bookkeeping.

Spark's own counters come from the driver's status store, which keeps
filling with ``spark.ui.enabled=false``. A span remembers the DAG
scheduler's next job id at its start and end, so the jobs a span started
are exactly the ids in ``[job_from, job_to)``; their stage metrics are read
afterwards, outside any timed call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class SparkCounters:
    """Job/stage counters of one SparkContext, from its status store."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()  # noqa: SLF001 — status store lives on the JVM context
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def next_job(self) -> int:
        return int(self._dag.nextJobId())

    def totals(self, job_from: int, job_to: int) -> dict[str, float]:
        """Sum the stage metrics of jobs ``job_from <= id < job_to``."""
        self._bus.waitUntilEmpty()
        stage_ids: set[int] = set()
        for jid in range(job_from, job_to):
            ids = self._store.job(jid).stageIds().mkString(",")
            stage_ids.update(int(s) for s in ids.split(",") if s)
        out = {
            "jobs": job_to - job_from,
            "stages": 0,
            "tasks": 0,
            "task_busy_s": 0.0,
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "spill_bytes": 0,
        }
        for sid in sorted(stage_ids):
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue  # a reused exchange: listed by the job, never run
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["task_busy_s"] += st.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: SparkCounters | None = None
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.counters is not None:
            rec["job_from"] = self.counters.next_job()
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            if self.counters is not None:
                rec["job_to"] = self.counters.next_job()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def spark_totals(self, rec: dict) -> dict[str, float]:
        return self.counters.totals(rec["job_from"], rec["job_to"])

    def write(self, path: str) -> None:
        """One JSON line per span, with its duration and self time (the
        duration minus what its children cover; children of one span run
        one after another on this thread, so they never overlap)."""
        with open(path, "w") as fh:
            for s in self.spans:
                dur = s["end"] - s["start"]
                child = sum(c["end"] - c["start"] for c in self.children(s))
                fh.write(json.dumps({**s, "dur_s": dur, "self_s": dur - child}) + "\n")


def dur(rec: dict) -> float:
    return rec["end"] - rec["start"]
