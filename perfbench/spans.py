"""Spans and Spark counters for the traced benchmark run.

Spans are recorded from the benchmark's side only: :meth:`Tracer.wrap`
replaces a package function *in the module namespace the caller looks it
up in* with a wrapper that opens a span around the call. The package
itself is never edited. Every span also sets a Spark job group, so the
jobs a call submits can be attributed to it afterwards from the status
store (``AppStatusStore``, populated with ``spark.ui.enabled=false``).

A span is ``{id, name, parent, run, start, end}`` with times in seconds
from the tracer's creation; spans stay in memory until :meth:`dump`.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict

STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("jvm_gc_s", "jvmGcTime", 1e-3),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("input_bytes", "inputBytes", 1),
    ("output_bytes", "outputBytes", 1),
)
COUNTER_NAMES = ("jobs", "stages", "tasks") + tuple(f for f, _, _ in STAGE_FIELDS)


def iter_seq(seq):
    """Iterate a JVM collection (anything with ``iterator()``)."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def catalyst_phases(df) -> dict:
    """Catalyst re-analysis, optimization and planning time of ``df``'s plan.

    The plan is re-planned once on a fresh QueryExecution, each phase
    timed on its own. Optimization and planning cover the whole plan. The
    analysis figure does not: a DataFrame built through the API resolves
    each step eagerly when it is built, so the logical plan handed over is
    already analyzed below its top node, and ``catalyst.reanalysis_s`` only
    times re-checking it. The analyzer's real cost lands in the span of the
    call that built the frame (``plans.shipment.plan_s``). The tracker of
    ``df``'s own QueryExecution is not used either: when a phase runs
    again on the same tracker, its summary keeps the first start and the
    last end, so "analysis" there can span seconds of unrelated work.
    """
    jvm = df.sparkSession._jvm
    qe = df.sparkSession._jsparkSession.sessionState().executePlan(
        df._jdf.queryExecution().logical(),
        jvm.org.apache.spark.sql.execution.CommandExecutionMode.ALL(),
    )
    out = {}
    for name, phase in (("reanalysis", qe.analyzed), ("optimization", qe.optimizedPlan),
                        ("planning", qe.executedPlan)):
        t = time.perf_counter()
        phase()
        out[f"catalyst.{name}_s"] = time.perf_counter() - t
    return out


class Tracer:
    """Collects spans and per-span Spark counters for one process."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = None
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._patched: list[tuple[object, str, object]] = []

    def _now(self) -> float:
        return time.perf_counter() - self._t0

    def _set_group(self, span_id) -> None:
        if span_id is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"span-{span_id}", self.spans[span_id]["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": self._now(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        self.self_s += time.perf_counter() - t
        try:
            yield rec
        finally:
            t = time.perf_counter()
            rec["end"] = self._now()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.self_s += time.perf_counter() - t

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Open span ``name`` around every call of ``module.attr``.

        ``on_result(span, args, kwargs, result)`` runs after the call,
        outside the span's timed interval.
        """
        inner = getattr(module, attr)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = inner(*args, **kwargs)
            if on_result is not None:
                t = time.perf_counter()
                on_result(rec, args, kwargs, out)
                self.self_s += time.perf_counter() - t
            return out

        self._patched.append((module, attr, inner))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        for module, attr, inner in reversed(self._patched):
            setattr(module, attr, inner)
        self._patched.clear()

    # -- Spark counters -----------------------------------------------------

    def attach_counters(self) -> None:
        """Add each span's own Spark counters (``span["spark"]``) from the
        status store: jobs submitted under the span's job group, their
        stages and tasks, and the stage metrics in :data:`STAGE_FIELDS`.
        """
        t = time.perf_counter()
        sc = self._sc
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        empty = jvm.java.util.ArrayList()
        quantiles = sc._gateway.new_array(jvm.double, 0)
        stages = defaultdict(lambda: defaultdict(float))
        for s in iter_seq(store.stageList(empty, False, False, quantiles, empty)):
            if str(s.status()) == "SKIPPED":
                continue
            acc = stages[s.stageId()]
            acc["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            for field, getter, scale in STAGE_FIELDS:
                acc[field] += getattr(s, getter)() * scale
        own = defaultdict(lambda: defaultdict(float))
        for j in iter_seq(store.jobsList(empty)):
            group = j.jobGroup()
            if not group.isDefined() or not str(group.get()).startswith("span-"):
                continue
            acc = own[int(str(group.get())[5:])]
            acc["jobs"] += 1
            for sid in iter_seq(j.stageIds()):
                if sid not in stages:  # skipped: its shuffle output was reused
                    continue
                acc["stages"] += 1
                for k, v in stages[sid].items():
                    acc[k] += v
        for rec in self.spans:
            rec["spark"] = {k: own[rec["id"]].get(k, 0.0) for k in COUNTER_NAMES}
        self.self_s += time.perf_counter() - t

    def inclusive(self, rec: dict) -> dict:
        """Counters of ``rec`` plus those of all its descendants."""
        children = defaultdict(list)
        for s in self.spans:
            children[s["parent"]].append(s)
        total = defaultdict(float)
        todo = [rec]
        while todo:
            s = todo.pop()
            for k, v in s.get("spark", {}).items():
                total[k] += v
            todo.extend(children[s["id"]])
        return dict(total)

    def total_s(self, name: str) -> float:
        """Summed duration of the spans named ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Summed duration of spans ``name`` minus their direct children."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        total = sum(s["end"] - s["start"] for s in self.spans if s["id"] in ids)
        kids = sum(s["end"] - s["start"] for s in self.spans if s["parent"] in ids)
        return total - kids

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1, sort_keys=True)
