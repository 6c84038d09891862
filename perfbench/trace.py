"""Spans and Spark counters, measured from outside the program.

A :class:`Tracer` records spans (name, start, end, parent, op id) in
memory. Each span runs its body under a Spark job group of its own and
restores the parent's group on exit, so every job, stage and task the
body launches is attributed to the innermost span around it. After an op
(a query pass or a sync round) :meth:`Tracer.collect` reads each span's
jobs from the status tracker and their stages' task counts, executor run
time, shuffle, spill and output bytes from the driver's status store.

The ``Traced*`` wrappers expose the same public methods as the objects
``SyncEngine`` takes through its constructor (and that
``sources.es.sync_incremental_es_http`` takes as ``target`` and
``state``) and time every call into them; nothing inside the program is
patched. A disabled tracer makes
:meth:`Tracer.span` a no-op, and the untraced run passes the real
objects to the engine, so end-to-end timings carry no tracing cost.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager

#: StageData fields summed per span, under the names the ledger uses
STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "failed_tasks": "numFailedTasks",
    "busy_ms": "executorRunTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "mem_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "output_bytes": "outputBytes",
    "output_records": "outputRecords",
}
COUNTERS = ("jobs", "stages", *STAGE_FIELDS)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        #: job-group prefix, unique per tracer sharing a SparkContext
        self._tag = f"perfbench-{uuid.uuid4().hex[:8]}"
        self.spans: list[dict] = []
        self.op = None
        self._stack: list[dict] = []
        self._sc = None
        self._seen_stages: set[int] = set()

    def bind(self, spark) -> None:
        """Attach to the current session (again after a restart)."""
        self._sc = spark.sparkContext
        self._seen_stages = set()

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{self._tag}-{span['id']}", span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def collect(self) -> None:
        """Fill Spark counters into every closed span that lacks them.
        Call between ops, outside any timed region."""
        if not self.enabled:
            return
        tracker = self._sc.statusTracker()
        pending = [s for s in self.spans if "end" in s and "jobs" not in s]
        for s in pending:
            jobs = sorted(tracker.getJobIdsForGroup(f"{self._tag}-{s['id']}"))
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                stages.update(info.stageIds if info else ())
            s["jobs"] = len(jobs)
            s["_stage_ids"] = sorted(stages)
        store = self._sc._jsc.sc().statusStore()
        jvm, gw = self._sc._jvm, self._sc._gateway
        for s in pending:
            totals = dict.fromkeys(STAGE_FIELDS, 0)
            ran = 0
            # a shuffle stage reused by a later job is listed by both;
            # it counts once, for the span whose job ran it
            for sid in s.pop("_stage_ids"):
                if sid in self._seen_stages:
                    continue
                attempts = store.stageData(
                    sid, False, jvm.java.util.ArrayList(), False,
                    gw.new_array(jvm.double, 0),
                )
                it = attempts.iterator()
                executed = False
                while it.hasNext():
                    d = it.next()
                    for key, getter in STAGE_FIELDS.items():
                        totals[key] += int(getattr(d, getter)())
                    executed = executed or d.numCompleteTasks() + d.numFailedTasks() > 0
                if executed:
                    ran += 1
                    self._seen_stages.add(sid)
            s["stages"] = ran
            s.update(totals)

    # -- reading spans --------------------------------------------------

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def inclusive(self, span: dict) -> dict:
        """Counters of ``span`` plus all its descendants."""
        out = {k: span.get(k, 0) for k in COUNTERS}
        for c in self.children(span):
            for k, v in self.inclusive(c).items():
                out[k] += v
        return out

    def self_s(self, span: dict) -> float:
        """Span duration minus the time its (sequential) children cover."""
        return dur(span) - sum(dur(c) for c in self.children(span))


def dur(span: dict) -> float:
    return span["end"] - span["start"]


class _Traced:
    """Delegates every attribute to ``inner``; subclasses time the public
    methods that cross a layer boundary."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def _call(self, span_name: str, method: str, *args, **kwargs):
        with self._tracer.span(span_name):
            return getattr(self._inner, method)(*args, **kwargs)


class TracedCatalog(_Traced):
    def list_tables(self, pattern=None):
        return self._call("catalog.list_tables", "list_tables", pattern)

    def read(self, name):
        return self._call("catalog.read", "read", name)


class TracedTarget(_Traced):
    def append(self, table, df, add_system_cols=True):
        return self._call("sink.append", "append", table, df, add_system_cols)


class TracedState(_Traced):
    def get(self, table_name):
        return self._call("state.get", "get", table_name)

    def commit(self, state):
        return self._call("state.commit", "commit", state)


class TracedNearDup(_Traced):
    """A ``PersistedNearDupStore``; ``id_col`` and ``text_col`` pass
    through to the store."""

    def screen_split(self, batch):
        return self._call("dedup.screen", "screen_split", batch)

    def append(self, docs):
        return self._call("dedup.store_append", "append", docs)


class TracedReporter(_Traced):
    """Records each ``table_done`` report on the enclosing span."""

    def table_done(self, table, rows, seconds):
        if self._tracer._stack:
            self._tracer._stack[-1].setdefault("tables", []).append(
                {"table": table, "rows": rows, "seconds": seconds}
            )
        return self._inner.table_done(table, rows, seconds)
