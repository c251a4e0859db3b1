"""Spans around the program's public functions, and the Spark cost of
each span read from Spark's own status store.

A :class:`Tracer` wraps functions where their callers look them up
(module attributes, registry dicts), so the program itself is not
edited. Every span sets its own job group while it runs; the jobs a
span starts are read back with ``statusTracker().getJobIdsForGroup``
and their stages with ``statusStore().lastStageAttempt``.
"""

from __future__ import annotations

import contextlib
import functools
import time
import uuid

#: stage fields summed per span; times in seconds, sizes in bytes
STAGE_FIELDS = (
    "cpu_s", "run_s", "gc_s", "tasks", "input_bytes", "output_bytes",
    "output_records", "shuffle_write_bytes", "spill_bytes",
)


@contextlib.contextmanager
def no_span(name: str):
    yield


class Tracer:
    """Records spans (name, start, end, parent) and the jobs run inside
    each. Spans nest; a job belongs to the innermost open span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tag = uuid.uuid4().hex  # job groups must not repeat across tracers
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._patches: list[tuple[object, object, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._open[-1] if self._open else None,
               "group": f"perfbench-{self.tag}-{sid}", "start": time.perf_counter()}
        self.spans.append(rec)
        self._open.append(sid)
        self.sc.setJobGroup(rec["group"], name, False)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(self.spans[self._open[-1]]["group"], "", False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # -------------------------------------------------------- patching

    def _set(self, owner, key, value):
        if isinstance(owner, dict):
            old = owner[key]
            owner[key] = value
        else:
            old = getattr(owner, key)
            setattr(owner, key, value)
        self._patches.append((owner, key, old))

    def wrap(self, owner, key, name: str) -> None:
        """Replace ``owner.key`` (or ``owner[key]``) by a spanned call."""
        fn = owner[key] if isinstance(owner, dict) else getattr(owner, key)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._set(owner, key, spanned)

    def replace(self, owner, key, value) -> None:
        """Swap ``owner.key`` for ``value`` until :meth:`restore`."""
        self._set(owner, key, value)

    def restore(self) -> None:
        while self._patches:
            owner, key, old = self._patches.pop()
            if isinstance(owner, dict):
                owner[key] = old
            else:
                setattr(owner, key, old)

    # -------------------------------------------------------- reading

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def named(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix)]

    def subtree(self, rec: dict) -> list[dict]:
        ids = {rec["id"]}
        out = [rec]
        for s in self.spans[rec["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def self_time(self, rec: dict) -> float:
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return self.duration(rec) - sum(self.duration(s) for s in kids)

    def jobs(self, recs: list[dict]) -> list[int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        return sorted(j for r in recs for j in tracker.getJobIdsForGroup(r["group"]))

    def cost(self, recs: list[dict]) -> dict:
        """Summed stage metrics of every job the spans started. A stage
        skipped because an earlier job wrote its shuffle is not
        counted again."""
        jobs = self.jobs(recs)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stages = sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds})
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        tot["jobs"] = len(jobs)
        for sid in stages:
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) == "SKIPPED":
                continue
            tot["cpu_s"] += sd.executorCpuTime() / 1e9
            tot["run_s"] += sd.executorRunTime() / 1e3
            tot["gc_s"] += sd.jvmGcTime() / 1e3
            tot["tasks"] += sd.numCompleteTasks()
            tot["input_bytes"] += sd.inputBytes()
            tot["output_bytes"] += sd.outputBytes()
            tot["output_records"] += sd.outputRecords()
            tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return tot

    def dump(self) -> list[dict]:
        """Spans as JSON-ready dicts, times relative to the first span."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [
            {"name": s["name"], "start": round(s["start"] - t0, 6),
             "end": round(s["end"] - t0, 6), "parent": s["parent"],
             "jobs": self.jobs([s])}
            for s in self.spans
        ]
