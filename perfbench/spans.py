"""Spans and Spark counters recorded from outside the engine.

A ``Tracer`` records one span per call into a layer: name, start, end, parent
and run id, kept in memory and written out once when the run ends. With
tracing on it also

* tags every Spark job started inside a span with the span's id as the job
  group, so each stage's counters can later be charged to the innermost open
  span; and
* wraps the names the operator modules import from the plan layer
  (``prepare_edges``, ``run_pregel``, the ``local_*`` kernels), the checkpoint
  manager's ``save``/``latest`` and the bucketed writer, so calls made inside
  an operator get spans too, and stamps the time the superstep loop starts
  on the open ``run_pregel`` span.

The counters come from Spark's status store, read once per SparkContext
(``harvest``) after the timed work: per stage the executor run and CPU time,
GC time, shuffle bytes, spill, output bytes, task count and the
submission/completion times. Each stage that ran is charged to the span of
the oldest job listing it. Spark gives a stage that a later job finds already
computed a new, SKIPPED stage id, so a stage's entry is never rewritten by a
later job and one read at the end sees what a read at every span boundary
would have seen.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run: str
    start: float                  # epoch seconds, comparable with Spark's stage times
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)      # self counters (own jobs only)
    intervals: list = field(default_factory=list)     # own stage [submit, complete]
    stage_ids: list = field(default_factory=list)     # own stages, as (context, stage id)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _wrap_targets():
    """(owner, attribute, span name) of every call wrapped in traced runs."""
    from neo4j_graph_data_science_spark.operators import (
        labelprop, pagerank, scc, wcc)
    from neo4j_graph_data_science_spark.plans import pregel as pregel_plan
    from neo4j_graph_data_science_spark.plans.checkpoint import CheckpointManager
    from neo4j_graph_data_science_spark.sources import bucketing

    # the superstep loop is not a span: its wrapper only stamps the time the
    # loop starts on the open run_pregel span, after any snapshot is loaded
    out = [(pregel_plan, "_pregel_loop", None),
           (CheckpointManager, "save", "plans.checkpoint.save"),
           (CheckpointManager, "latest", "plans.checkpoint.latest"),
           (bucketing, "write_bucketed_edges", "catalog.write_bucketed_edges")]
    for mod, kernel in ((pagerank, "local_page_rank"), (wcc, "local_wcc"),
                        (labelprop, "local_label_propagation"), (scc, "local_scc")):
        out.append((mod, kernel, "plans.local_kernel"))
        for name in ("prepare_edges", "run_pregel"):
            if hasattr(mod, name):
                out.append((mod, name, f"plans.pregel.{name}"))
    return out


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._saved: list[tuple] = []
        self.self_s = 0.0          # wall spent in the tracer's own bookkeeping

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"{self.run_id}/{len(self.spans)}", name,
                  parent.id if parent else None, self.run_id, time.time(),
                  attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        if self.enabled:
            self.spark.sparkContext.setJobGroup(sp.id, name)
        self.self_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.end = time.time()
            self._stack.pop()
            if self.enabled:
                sc = self.spark.sparkContext
                if parent is not None:
                    sc.setJobGroup(parent.id, parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            self.self_s += time.perf_counter() - t1

    def install(self) -> None:
        """Wrap the engine's inner layer calls (traced runs only)."""
        if not self.enabled:
            return
        for owner, attr, name in _wrap_targets():
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrapped(orig, name))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def _wrapped(self, fn, name):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            if name is None:
                self._stack[-1].attrs["loop_start"] = time.time()
                return fn(*args, **kwargs)
            with self.span(name, fn=fn.__name__) as sp:
                out = fn(*args, **kwargs)
                if name == "plans.pregel.run_pregel":
                    sp.attrs["walls"] = [m["wall_s"] / max(m.get("supersteps", 1), 1)
                                         for m in out.metrics
                                         for _ in range(m.get("supersteps", 1))]
                elif name == "plans.local_kernel" and isinstance(out, tuple):
                    sp.attrs["supersteps"] = int(out[1])
                return out
        return call

    # -- counters ----------------------------------------------------------
    def harvest(self) -> None:
        """Charge the status store's stages to spans of the current
        SparkContext. Call before the context stops and after the timed work."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        jvm = sc._jvm
        sc._jsc.sc().listenerBus().waitUntilEmpty()    # the store is fed asynchronously
        store = sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$"))
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(mapper.writeValueAsString(store.stageList(
            None, False, False, sc._gateway.new_array(jvm.double, 0), None)))
        ran: dict[int, list[dict]] = {}
        for s in stages:
            if s["status"] != "SKIPPED":
                ran.setdefault(s["stageId"], []).append(s)
        spans = {sp.id: sp for sp in self.spans}
        # jobsList is newest first. Walk it oldest first, so a stage that a
        # later job lists again goes to the job that ran it; skipped entries
        # carry no work and are charged nowhere.
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            sp = spans.get(job.get("jobGroup"))
            for sid in job["stageIds"]:
                for st in ran.pop(sid, ()):
                    if sp is not None:
                        _add_stage(sp, st, sc.applicationId)
        self.self_s += time.perf_counter() - t0

    # -- views ---------------------------------------------------------------
    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def total(self, sp: Span, counter: str) -> float:
        """Counter summed over the span and its descendants."""
        return sum(s.counters.get(counter, 0.0) for s in self.subtree(sp))

    def self_time(self, sp: Span) -> float:
        """Span wall minus the part its child spans cover."""
        return sp.dur - _union_length([(c.start, c.end) for c in self.children(sp)],
                                      sp.start, sp.end)

    def driver_gap(self, sp: Span) -> float:
        """Wall of ``sp`` during which neither one of its own stages nor a child
        span was running: time the driver spent between Spark stages."""
        busy = list(sp.intervals) + [(c.start, c.end) for c in self.children(sp)]
        return sp.dur - _union_length(busy, sp.start, sp.end)

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.id, "name": sp.name, "parent": sp.parent,
                    "run": sp.run, "start": sp.start, "end": sp.end,
                    "self_s": self.self_time(sp), "attrs": sp.attrs,
                    "counters": sp.counters}) + "\n")


def _add_stage(sp: Span, st: dict, context: str) -> None:
    sp.stage_ids.append((context, st["stageId"]))
    c = sp.counters
    for k, v in (("run_s", st["executorRunTime"] / 1e3),
                 ("cpu_s", st["executorCpuTime"] / 1e9),
                 ("gc_s", st["jvmGcTime"] / 1e3),
                 ("shuffle_read_mb", st["shuffleReadBytes"] / 2**20),
                 ("shuffle_write_mb", st["shuffleWriteBytes"] / 2**20),
                 ("spill_mb", (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 2**20),
                 ("output_mb", st["outputBytes"] / 2**20),
                 ("stages", 1),
                 ("tasks", st["numTasks"])):
        c[k] = c.get(k, 0.0) + v
    if st.get("submissionTime") and st.get("completionTime"):
        sp.intervals.append((st["submissionTime"] / 1e3, st["completionTime"] / 1e3))


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def median(values) -> float:
    vals = list(values)
    return statistics.median(vals) if vals else 0.0
