"""Tests of the benchmark itself, on tiny inputs.

Run from the repository root:  python3 -m pytest perfbench/test_perfbench.py -q

* spans nest inside their parents, and each stage is charged once, to the
  span it was submitted in;
* a PageRank query's phases (projection, prepare_edges, loop, emit) sum to
  within 5% of its wall time;
* a resumed checkpoint run reproduces the uninterrupted one;
* an output that differs from the reference counts as a failed operation.
"""

from __future__ import annotations

import os
import sys
import uuid

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import jobs  # noqa: E402
import run as bench  # noqa: E402
from spans import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, HERE, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = bench.DRIVER_MEM
    conf = bench.spark_conf(work)
    spark = jobs.get_spark("perfbench-test", master="local[2]", extra_conf=conf)
    yield spark, work, conf
    bench.shutdown(spark)


def _run(session, traced: bool) -> jobs.Run:
    spark, work, conf = session
    tracer = Tracer(spark, uuid.uuid4().hex[:8], traced)
    return jobs.Run(spark, tracer, jobs.Checker(), work, 1, 2, conf,
                    f"{work}/results.jsonl", {})


def _check_nesting(tr: Tracer) -> None:
    by_id = {s.id: s for s in tr.spans}
    for s in tr.spans:
        assert s.end >= s.start
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start + 1e-3 and s.end <= p.end + 1e-3, (s.name, p.name)
        assert tr.self_time(s) >= -1e-3


def _check_stages(tr: Tracer) -> None:
    """Every stage is charged to one span only, and that span was open when
    the stage was submitted."""
    charged = [sid for s in tr.spans for sid in s.stage_ids]
    assert len(charged) == len(set(charged))
    for s in tr.spans:
        for submit, _ in s.intervals:
            assert s.start - 2e-3 <= submit <= s.end + 2e-3, s.name


def test_events_job_traced(session):
    run = _run(session, traced=True)
    run.tracer.install()
    try:
        run.ref = jobs.events_input(jobs.ref.tiny_event_tables(jobs.EVENTS_DATA, f"{run.work}/ev"))
        run.jobs.append(jobs.events_job(run, 1))
    finally:
        run.tracer.uninstall()
    run.tracer.harvest()
    assert (run.checker.attempted, run.checker.failed) == (4 + jobs.PR_REPEATS, 0)
    _check_nesting(run.tracer)
    _check_stages(run.tracer)
    kernels = {s.attrs["fn"] for s in run.tracer.find("plans.local_kernel")}
    assert kernels == {"local_page_rank", "local_wcc", "local_scc",
                       "local_label_propagation"}
    layer = jobs.per_layer(run, 1.0, 0.0, 1.0)
    assert layer["plans.local_kernel.supersteps"][0] > 0
    assert layer["plans.pregel.supersteps"][0] == 0
    assert layer["sources.projection_cpu_s"][0] > 0
    assert layer["sources.projection_shuffle_mb"][0] > 0
    assert layer["operators.triangle.exec_cpu_s"][0] > 0


def _pagerank_query(run: jobs.Run):
    """Projection, then distributed PageRank with its output emitted."""
    tr = run.tracer
    with tr.span("query") as q:
        with tr.span("sources.projection") as proj:
            g = jobs.transcript_graph(run.spark, n_convs=jobs.TINY_CONVS, seed=1)
            g = jobs.replace(g, edges=g.edges.persist(), nodes=g.nodes.persist())
            g.edges.count(), g.nodes.count()
        op, _, pdf = jobs._timed(tr, "operators.pagerank", lambda: jobs.page_rank(
            g, jobs.PageRankConfig(small_graph_edges=0)))
    return q, proj, op, g, pdf


def test_phases_cover_query_wall(session):
    """Projection + prepare_edges + loop + emit account for a distributed
    PageRank query's wall time (measured after one untraced warm-up query,
    so plan compilation is not charged to the gaps between phases)."""
    _pagerank_query(_run(session, traced=False))
    run = _run(session, traced=True)
    tr = run.tracer
    tr.install()
    try:
        q, proj, op, g, pdf = _pagerank_query(run)
    finally:
        tr.uninstall()
    tr.harvest()
    _check_nesting(tr)
    _check_stages(tr)
    loops = tr.find("plans.pregel.run_pregel")
    assert sum(s.counters.get("stages", 0) for s in loops) > 0
    assert proj.counters.get("stages", 0) > 0
    phases = proj.dur + sum(s.dur for s in tr.subtree(op) if s.name in (
        "plans.pregel.prepare_edges", "plans.pregel.run_pregel", "operators.emit"))
    assert abs(q.dur - phases) <= 0.05 * q.dur, (q.dur, phases)
    e = g.edges.select("src", "dst").toPandas().to_numpy()
    ids = np.sort(g.nodes.toPandas()["id"].to_numpy())
    assert jobs.compare(pdf, "score", ids, jobs.ref.pagerank(ids, e), 1e-6) is None


def test_resume_matches_uninterrupted(session):
    run = _run(session, traced=False)
    rec = jobs.transcripts_job(run, jobs.TINY_CONVS, 1)
    assert (run.checker.attempted, run.checker.failed) == (1 + jobs.PR_REPEATS, 0)
    assert rec["resume_s"] > 0 and rec["pr_supersteps"] == jobs.PR_ITERATIONS - 1


def test_mismatch_counts_as_failure(session):
    run = _run(session, traced=False)
    run.ref = jobs.events_input(jobs.ref.tiny_event_tables(jobs.EVENTS_DATA, f"{run.work}/ev-bad"))
    run.ref.want["wcc"][0] += 1
    run.jobs.append(jobs.events_job(run, 1))
    assert (run.checker.attempted, run.checker.failed) == (4 + jobs.PR_REPEATS, 1)
    ok = jobs.end_to_end(run, 1.0)["ok_frac"][0]
    assert ok == pytest.approx(1 - 1 / (4 + jobs.PR_REPEATS))
