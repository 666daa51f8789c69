"""The benchmark's workloads: one graph job each, checked against a reference.

Every job reads its source, projects, runs the operators and materializes
each output on the driver (``toPandas``), inside spans of the run's tracer.
Outputs are compared with references computed once per run by
``perfbench/inputs.py`` outside the timed region; an exception or a
mismatch counts as a failed operation.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import traceback
from dataclasses import dataclass, field, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs as ref
from spans import Tracer, median

from neo4j_graph_data_science_spark.catalog import GraphCatalog, SparkGraph, clear_caches
from neo4j_graph_data_science_spark.operators.labelprop import label_propagation
from neo4j_graph_data_science_spark.operators.pagerank import PageRankConfig, page_rank
from neo4j_graph_data_science_spark.operators.scc import scc
from neo4j_graph_data_science_spark.operators.triangle import triangle_count
from neo4j_graph_data_science_spark.operators.wcc import wcc
from neo4j_graph_data_science_spark.session import get_spark
from neo4j_graph_data_science_spark.sources.tables import (
    events_graph, part_co_occurrence_graph)
from neo4j_graph_data_science_spark.sources.transcripts import transcript_graph

EVENT_RELS = ("NEXT", "TYPE", "GROUP", "LOOP")


EVENTS_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TRANSCRIPT_CONVS = 3_000  # transcript_graph(n_convs=...) of transcripts_pregel
TINY_CONVS = 60         # the transcripts warm-up job's graph
PR_REPEATS = 2          # PageRank calls per job; pagerank_s is their mean
PR_ITERATIONS = 4       # transcripts: checkpointed PageRank, 3 supersteps
RESUME_FROM = 2         # the resumed call starts from this committed snapshot
SCALING_ITERATIONS = 4  # fixed-superstep PageRank of the scaling pair (3 updates)
SCALING_CORES = (1, 4)
SCALING_PARTITIONS = 8  # one partitioning at both levels: 2 x the larger leg
BUCKETS = 8


class Checker:
    """Counts attempted and failed operations; a failure is an exception or
    an output that differs from the reference."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def attempt(self, name: str, fn):
        """Run one operation; returns its result, or None when it raised."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 -- one operation's failure is counted, not fatal
            traceback.print_exc()
            self.verify(name, "raised")
            return None

    def verify(self, name: str, problem: str | None) -> None:
        if problem:
            self.failed += 1
            print(f"[perfbench] {name}: FAILED ({problem})", file=sys.stderr, flush=True)


def compare(pdf, col: str, ids: np.ndarray, want: np.ndarray,
            atol: float | None = None) -> str | None:
    """None when ``pdf``'s (id, col) equals the reference, else the reason."""
    got = pdf.sort_values("id")
    if len(got) != len(ids) or not np.array_equal(got["id"].to_numpy(), ids):
        return f"{col}: {len(got)} ids, want {len(ids)}"
    vals = got[col].to_numpy()
    if atol is None:
        bad = int(np.count_nonzero(vals != want))
    else:
        bad = int(np.count_nonzero(~(np.abs(vals - want) <= atol)))
    return f"{col}: {bad} of {len(ids)} values differ" if bad else None


@dataclass
class Run:
    """State of one benchmark invocation."""
    spark: object
    tracer: Tracer
    checker: Checker
    work: str
    seed: int
    cores: int
    conf: dict
    results_path: str
    env: dict
    ref: object = None       # the run's inputs and references (EventsInput, TranscriptInput)
    jobs: list = field(default_factory=list)     # per-job measurement dicts
    legs: list = field(default_factory=list)     # scaling legs

    def record(self, kind: str, data: dict) -> None:
        """Append a record to the results file as soon as it is measured, so a
        run killed later still leaves it."""
        with open(self.results_path, "a") as f:
            f.write(json.dumps({"kind": kind, "seed": self.seed,
                                "env": self.env, **data}) + "\n")

    def restart(self, master: str, partitions: int):
        """Stop the SparkContext and start a fresh one in the same JVM."""
        self.tracer.harvest()
        self.spark.stop()
        self.spark = get_spark("perfbench", master=master,
                               shuffle_partitions=partitions, extra_conf=self.conf)
        self.tracer.spark = self.spark
        return self.spark


def warm_up(run: Run, events: bool) -> None:
    """First touch of the Spark and engine paths the workload's jobs use: one
    job of the workload on a tiny input (a key-range subset of the fixed
    tables, or a 60-conversation transcript graph) with a single PageRank
    call and no resumed call, checked like the timed ones. The timed jobs
    then find plans compiled, hot classes JIT-compiled and Python workers
    started."""
    if events:
        run.ref = events_input(ref.tiny_event_tables(EVENTS_DATA, f"{run.work}/warm-up"))
        events_job(run, 0, repeats=1)
    else:
        transcripts_job(run, TINY_CONVS, 0, repeats=1, resume=False)
        shutil.rmtree(run.ref.saved)
    run.ref = None


def _loop(res) -> dict:
    """Supersteps, superstep-loop wall and median superstep wall of a
    PregelResult; a single-task kernel reports one wall for all its supersteps."""
    walls = [m["wall_s"] / m["supersteps"] for m in res.metrics
             for _ in range(m["supersteps"])]
    return {"pr_supersteps": len(walls), "pr_loop_s": sum(walls),
            "pr_step_s": median(walls), "pr_walls": [m["wall_s"] for m in res.metrics]}


def _pagerank_calls(results) -> dict:
    """A job's consecutive PageRank calls, each (span, result, output): the
    mean call wall as ``pagerank_s``, every call's wall, and the loop figures
    of the median call by superstep wall. The first call on a graph pays
    one-off costs and later ones still speed up as the JVM warms, so a mean
    of a few is steadier than their median, which tracks whichever call sits
    in the middle of that slope."""
    loops = sorted((_loop(res) for _, res, _ in results), key=lambda lp: lp["pr_step_s"])
    durs = [sp.dur for sp, _, _ in results]
    return {**loops[(len(loops) - 1) // 2],
            "pagerank_s": sum(durs) / len(durs),
            "pagerank_calls_s": durs}


def _timed(tr: Tracer, name: str, fn):
    """Run an operator and materialize its output on the driver."""
    with tr.span(name) as sp:
        out = fn()
        df = out.state if hasattr(out, "state") else out
        with tr.span("operators.emit"):
            pdf = df.toPandas()
    return sp, out, pdf


# -- events_local ----------------------------------------------------------------

@dataclass
class EventsInput:
    tables: ref.EventTables
    ids: np.ndarray
    agg_edges: int
    want: dict


def events_input(root: str = EVENTS_DATA) -> EventsInput:
    """Read the fixed tables under ``root`` and compute every reference
    (numpy only)."""
    t = ref.read_event_tables(root)
    n, edges = ref.event_edges(t)
    ids = np.arange(n, dtype=np.int64)
    want = {"pagerank": ref.pagerank(ids, edges),
            "wcc": ref.components(ids, edges),
            "scc": ref.strong_components(ids, edges),
            "lpa": ref.label_propagation(ids, edges),
            "triangles": ref.triangles(t.part_ids, ref.part_edges(t))}
    return EventsInput(t, ids, len(np.unique(edges, axis=0)), want)


def events_job(run: Run, job: int, repeats: int = PR_REPEATS) -> dict:
    """Project the event and part graphs from the fixed tables, run the five
    target algorithms at their default configs (PageRank ``repeats`` times)
    and emit every output."""
    spark, tr, ck, inp = run.spark, run.tracer, run.checker, run.ref
    src = f"{run.work}/events-job{job}"       # a fresh path: the projection memo never hits
    os.makedirs(src)
    for table in ("events", "lineitem", "part"):
        shutil.copy(f"{inp.tables.root}/{table}.parquet", src)
    out: dict = {}
    done: dict = {}
    with tr.span("job", workload="events_local") as job_sp:
        with tr.span("sources.projection") as sp:
            g = events_graph(spark, src, EVENT_RELS)
            pg = part_co_occurrence_graph(spark, src)
            sp.attrs["edges"] = g.edges.count() + pg.edges.count()
            sp.attrs["vertices"] = g.nodes.count() + pg.nodes.count()
        ops = {
            "pagerank": (lambda: page_rank(g), "score", inp.ids, 1e-6),
            "wcc": (lambda: wcc(g), "component", inp.ids, None),
            "scc": (lambda: scc(g), "component", inp.ids, None),
            "lpa": (lambda: label_propagation(g), "label", inp.ids, None),
            "triangles": (lambda: triangle_count(pg), "triangles", inp.tables.part_ids, None),
        }
        for algo, (fn, *_) in ops.items():
            for _ in range(repeats if algo == "pagerank" else 1):
                res = ck.attempt(algo, lambda: _timed(tr, f"operators.{algo}", fn))
                if res is not None:
                    done.setdefault(algo, []).append(res)
    for algo, results in done.items():
        _, col, ids, atol = ops[algo]
        for _, _, pdf in results:
            ck.verify(algo, compare(pdf, col, ids, inp.want[algo], atol))
        out[f"{algo}_s"] = median(sp.dur for sp, _, _ in results)
        if algo == "pagerank":
            out.update(_pagerank_calls(results))
    out["job_s"] = job_sp.dur
    out["edges"] = inp.agg_edges
    spark.catalog.clearCache()
    clear_caches()
    shutil.rmtree(src, ignore_errors=True)
    return out


# -- transcripts_pregel --------------------------------------------------------------

@dataclass
class TranscriptInput:
    ids: np.ndarray
    agg_edges: int
    want: dict
    saved: str                # parquet copy of the projection, read by the scaling legs


def transcripts_input(g, work: str) -> TranscriptInput:
    """Collect a materialized transcript projection (outside the timed
    region), keep a parquet copy for the scaling legs and compute the
    references."""
    edges = g.edges.toPandas()
    ids = np.sort(g.nodes.toPandas()["id"].to_numpy(dtype=np.int64))
    saved = f"{work}/transcripts-projection"
    os.makedirs(saved)
    pq.write_table(pa.Table.from_pandas(edges, preserve_index=False), f"{saved}/edges.parquet")
    pq.write_table(pa.table({"id": ids}), f"{saved}/nodes.parquet")
    e = edges[["src", "dst"]].to_numpy(dtype=np.int64)
    want = {"pagerank": ref.pagerank(ids, e, PR_ITERATIONS),
            "scaling": ref.pagerank(ids, e, SCALING_ITERATIONS, tolerance=0.0)}
    return TranscriptInput(ids, len(np.unique(e, axis=0)), want, saved)


def _uncommit_after(run_dir: str, upto: int) -> None:
    """Leave the checkpoint as a run killed after superstep ``upto`` would:
    later snapshots lose their commit marker, so resume starts at ``upto``."""
    for d in os.listdir(f"{run_dir}/state"):
        if int(d.split("=")[1]) > upto:
            os.remove(f"{run_dir}/state/{d}/_COMMITTED")


def transcripts_job(run: Run, n_convs: int, job: int,
                    repeats: int = PR_REPEATS, resume: bool = True) -> dict:
    """Durable production path: transcript projection, bucketed catalog
    projection, ``repeats`` checkpointed PageRank calls and, if ``resume``,
    one more call resuming the first from a mid-run snapshot, which must
    reproduce its output. ``job_s`` leaves the resumed call out, so it means
    the same with and without it. The first job's projection is collected
    afterwards as the run's reference."""
    spark, tr, ck = run.spark, run.tracer, run.checker
    ckpt = f"{run.work}/ckpt/job{job}"
    # a fresh checkpoint_dir per call: a reused one would resume at the end
    cfgs = [PageRankConfig(max_iterations=PR_ITERATIONS, run_id="pr",
                           checkpoint_dir=f"{ckpt}/call{i}") for i in range(repeats)]
    out: dict = {}
    resumed = None
    with tr.span("job", workload="transcripts_pregel") as job_sp:
        with tr.span("sources.projection") as sp:
            g = transcript_graph(spark, n_convs=n_convs, seed=run.seed)
            g = replace(g, edges=g.edges.persist(), nodes=g.nodes.persist())
            sp.attrs["edges"] = g.edges.count()
            sp.attrs["vertices"] = g.nodes.count()
        with tr.span("catalog.project_bucketed"):
            bg = GraphCatalog().project_bucketed(
                "perfbench_transcripts", g, buckets=BUCKETS, aggregation="COUNT")
        calls = [ck.attempt("pagerank", lambda: _timed(
            tr, "operators.pagerank", lambda: page_rank(bg, cfg))) for cfg in cfgs]
        full = calls[0]
        if resume and full is not None:
            _uncommit_after(f"{cfgs[0].checkpoint_dir}/pr", RESUME_FROM)
            resumed = ck.attempt("resume", lambda: _timed(
                tr, "operators.pagerank_resume", lambda: page_rank(bg, cfgs[0])))
    if run.ref is None:
        run.ref = transcripts_input(g, run.work)
    inp = run.ref
    done = [c for c in calls if c is not None]
    for _, _, pdf in done:
        ck.verify("pagerank", compare(pdf, "score", inp.ids, inp.want["pagerank"], 1e-6))
    if done:
        out.update(_pagerank_calls(done))
    if resumed is not None:
        want = full[2].sort_values("id")["score"].to_numpy()
        ck.verify("resume", compare(resumed[2], "score", inp.ids, want))
        out["resume_s"] = resumed[0].dur
    out["job_s"] = job_sp.dur - out.get("resume_s", 0.0)
    out["edges"] = inp.agg_edges
    spark.catalog.clearCache()
    clear_caches()
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


def scaling_pair(run: Run) -> None:
    """The same fixed-superstep distributed PageRank on the same input, in a
    fresh SparkContext at local[1] and then at local[4]. Throughput uses the
    median superstep wall, so the first leg's one-off plan compilation in
    its first superstep does not count against it."""
    inp = run.ref
    cfg = dict(tolerance=0.0, partitions=SCALING_PARTITIONS, small_graph_edges=0)

    def saved_graph(spark):
        g = SparkGraph(nodes=spark.read.parquet(f"{inp.saved}/nodes.parquet").persist(),
                       edges=spark.read.parquet(f"{inp.saved}/edges.parquet").persist())
        g.edges.count(), g.nodes.count()
        return g

    for cores in SCALING_CORES:
        g = saved_graph(run.restart(f"local[{cores}]", SCALING_PARTITIONS))
        name = f"scaling local[{cores}]"
        res = run.checker.attempt(name, lambda: _timed(
            run.tracer, f"scaling.local{cores}",
            lambda: page_rank(g, PageRankConfig(max_iterations=SCALING_ITERATIONS, **cfg))))
        leg = {"cores": cores, "master": run.spark.sparkContext.master,
               "parallelism": run.spark.sparkContext.defaultParallelism}
        if res is not None:
            run.checker.verify(name, compare(res[2], "score", inp.ids, inp.want["scaling"], 1e-6))
            loop = _loop(res[1])
            leg.update(loop, op_s=res[0].dur,
                       edges_per_s_per_superstep=inp.agg_edges / loop["pr_step_s"])
        run.legs.append(leg)
        run.record("scaling_leg", leg)
        print(f"[perfbench] scaling leg {json.dumps(leg)}", file=sys.stderr, flush=True)


# -- metrics -------------------------------------------------------------------------

def end_to_end(run: Run, setup_s: float) -> dict:
    jobs = run.jobs
    return {
        "setup_s": (setup_s, "s"),
        "job_s": (median(j["job_s"] for j in jobs), "s"),
        "pagerank_s": (median(j["pagerank_s"] for j in jobs if "pagerank_s" in j), "s"),
        "ok_frac": (1.0 - run.checker.failed / max(run.checker.attempted, 1), "fraction"),
    }


def per_layer(run: Run, session_s: float, trace_self_s: float, rss_mb: float) -> dict:
    """Per-layer metrics of a traced run: medians over its jobs, 0 for a layer
    the workload does not reach."""
    tr = run.tracer
    per_job = ([_layer_metrics(tr, sp, run.cores) for sp in tr.find("job")]
               or [_layer_metrics(tr, None, run.cores)])
    out = {k: (median(j[k][0] for j in per_job), unit)
           for k, (_, unit) in per_job[0].items()}
    legs = {leg["cores"]: leg for leg in run.legs if "pr_loop_s" in leg}
    tp1 = legs.get(1, {}).get("edges_per_s_per_superstep", 0.0)
    tp4 = legs.get(4, {}).get("edges_per_s_per_superstep", 0.0)
    out["plans.pregel.scaling.tp_local1"] = (tp1, "1/s")
    out["plans.pregel.scaling.tp_local4"] = (tp4, "1/s")
    out["plans.pregel.scaling.efficiency"] = (tp4 / (4 * tp1) if tp1 else 0.0, "ratio")
    for cores in SCALING_CORES:
        loops = [s for leg in tr.find(f"scaling.local{cores}") for s in tr.subtree(leg)
                 if s.name == "plans.pregel.run_pregel"]
        wall = sum(tr.self_time(s) for s in loops)
        run_s = sum(s.counters.get("run_s", 0.0) for s in loops)
        out[f"plans.pregel.scaling.busy_frac_local{cores}"] = (
            run_s / (wall * cores) if wall else 0.0, "fraction")
        out[f"plans.pregel.scaling.driver_gap_s_local{cores}"] = (
            sum(tr.driver_gap(s) for s in loops), "s")
    tp = [j["edges"] / j["pr_step_s"] for j in run.jobs if "pr_step_s" in j]
    out["operators.pagerank.edges_per_s_per_superstep"] = (median(tp), "1/s")
    out["session.start_s"] = (session_s, "s")
    out["session.peak_rss_mb"] = (rss_mb, "MB")
    out["trace.job_s"] = (median(j["job_s"] for j in run.jobs), "s")
    out["trace.self_s"] = (trace_self_s, "s")
    return out


def _layer_metrics(tr: Tracer, job, cores: int) -> dict:
    spans = tr.subtree(job) if job is not None else []

    def named(name):
        return [s for s in spans if s.name == name]

    def dur(name):
        return sum(s.dur for s in named(name))

    def tot(name, counter):
        return sum(tr.total(s, counter) for s in named(name))

    proj = named("sources.projection")
    loops = named("plans.pregel.run_pregel")
    walls = [w for s in loops for w in s.attrs.get("walls", [])]
    steps = len(walls)
    loop_self = sum(tr.self_time(s) for s in loops)

    def loop_c(counter):
        return sum(s.counters.get(counter, 0.0) for s in loops)

    per_step = (lambda v: v / steps) if steps else (lambda v: 0.0)
    resume_loops = [c for r in named("operators.pagerank_resume") for c in tr.subtree(r)
                    if c.name == "plans.pregel.run_pregel"]
    return {
        "sources.projection_s": (dur("sources.projection"), "s"),
        "sources.projection_cpu_s": (tot("sources.projection", "cpu_s"), "s"),
        "sources.projection_shuffle_mb": (tot("sources.projection", "shuffle_write_mb"), "MB"),
        "sources.edges": (sum(s.attrs.get("edges", 0) for s in proj), "count"),
        "sources.vertices": (sum(s.attrs.get("vertices", 0) for s in proj), "count"),
        "catalog.project_bucketed_s": (dur("catalog.project_bucketed"), "s"),
        "catalog.bucketed_write_mb": (tot("catalog.project_bucketed", "output_mb"), "MB"),
        "plans.pregel.prepare_edges_s": (dur("plans.pregel.prepare_edges"), "s"),
        "plans.pregel.loop_s": (sum(walls), "s"),
        "plans.pregel.superstep_p50_s": (median(walls), "s"),
        "plans.pregel.supersteps": (steps, "count"),
        "plans.pregel.loop_exec_run_s": (loop_c("run_s"), "s"),
        "plans.pregel.loop_exec_cpu_s": (loop_c("cpu_s"), "s"),
        "plans.pregel.loop_busy_frac": (loop_c("run_s") / (loop_self * cores)
                                        if loop_self else 0.0, "fraction"),
        "plans.pregel.loop_driver_gap_s": (sum(tr.driver_gap(s) for s in loops), "s"),
        "plans.pregel.stages_per_superstep": (per_step(loop_c("stages")), "count"),
        "plans.pregel.tasks_per_superstep": (per_step(loop_c("tasks")), "count"),
        "plans.pregel.shuffle_read_mb_per_superstep": (per_step(loop_c("shuffle_read_mb")), "MB"),
        "plans.pregel.shuffle_write_mb_per_superstep": (per_step(loop_c("shuffle_write_mb")), "MB"),
        "plans.pregel.spill_mb": (loop_c("spill_mb"), "MB"),
        "plans.pregel.gc_s": (loop_c("gc_s"), "s"),
        "plans.local_kernel.s": (dur("plans.local_kernel"), "s"),
        "plans.local_kernel.supersteps": (sum(s.attrs.get("supersteps", 0)
                                              for s in named("plans.local_kernel")), "count"),
        "plans.checkpoint.save_s": (dur("plans.checkpoint.save"), "s"),
        "plans.checkpoint.bytes_mb": (tot("plans.checkpoint.save", "output_mb"), "MB"),
        # run_pregel start to its first superstep: find, read and cache the snapshot
        "plans.checkpoint.resume_load_s": (sum(s.attrs["loop_start"] - s.start
                                               for s in resume_loops), "s"),
        "plans.checkpoint.resume_s": (dur("operators.pagerank_resume"), "s"),
        "operators.wcc_s": (dur("operators.wcc"), "s"),
        "operators.lpa_s": (dur("operators.lpa"), "s"),
        "operators.scc_s": (dur("operators.scc"), "s"),
        "operators.triangles_s": (dur("operators.triangles"), "s"),
        "operators.triangle.exec_cpu_s": (tot("operators.triangles", "cpu_s"), "s"),
        "operators.triangle.shuffle_mb": (tot("operators.triangles", "shuffle_write_mb"), "MB"),
        "operators.emit_s": (dur("operators.emit"), "s"),
    }
