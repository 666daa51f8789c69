"""Benchmark of the graph engine: closed-loop graph jobs on one driver process.

Usage, from the repository root:

    python3 perfbench/run.py --workload events_local --seed 1 --seconds 20 --trace 0

One driver process runs one job at a time at ``local[<nproc - 1>]``. Set-up
starts the session and runs one warm-up job of the workload on a tiny
input; then the workload's job repeats while the next one is predicted to
end within ``--seconds`` (at least once). ``events_local`` reads the fixed
tables under ``perfbench/data``; the transcript graph is synthesized from
``--seed``. Every output is checked against a reference computed once per
run. Traced runs also resume a checkpointed PageRank and measure the
1->4-core scaling pair. The last line of stdout
is the result: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``). Each job's and each scaling leg's record is also appended
to ``perfbench/_work/results.jsonl`` as soon as it is measured.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("events_local", "transcripts_pregel")
DRIVER_MEM = "3g"          # a fifth of a 15 GB host: the JVM shares RAM with Python workers
RUN_BUDGET_S = 150         # stop starting jobs past this, whatever --seconds says


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_conf(work: str) -> dict:
    """Keep every file Spark and the JVM write inside the work directory."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # keep every stage of a run in the status store for the tracer
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM (peak resident set over its life)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_env(spark, cores: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "task_slots": cores,
            "ram_gb": round(mem_kb / 2**20, 1),
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "driver_mem": DRIVER_MEM}


def shutdown(spark) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()        # the gateway JVM exits when stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import jobs
    except ImportError as ex:
        print(f"perfbench: cannot import the engine from {ROOT}: {ex}", file=sys.stderr)
        return 2

    # Spark's task slots. One core is left to the driver side (Python, py4j,
    # Spark's scheduler threads, JIT and GC): with every core running a task,
    # the distributed loop's many short stages wait on those threads, and a
    # few percent of hypervisor steal then stretched its supersteps up to 2x.
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    work = f"{HERE}/_work/{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    os.makedirs(work)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores), "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": f"{work}/tmp", "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, HERE, os.environ.get("PYTHONPATH")])),
    })
    conf = spark_conf(work)
    spark = jobs.get_spark("perfbench", extra_conf=conf)
    run = None
    try:
        run, metrics = measure(args, jobs, spark, work, cores, conf)
    finally:
        shutdown(run.spark if run is not None else spark)
        shutil.rmtree(work, ignore_errors=True)
    ck = run.checker
    print(json.dumps({
        "correct": ck.failed == 0, "attempted": ck.attempted, "failed": ck.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def measure(args, jobs, spark, work: str, cores: int, conf: dict):
    """Set up, build the inputs and references, run the closed loop; returns
    the run and its metrics as {name: (value, unit)}."""
    from spans import Tracer

    events = args.workload == "events_local"
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - T_START
    run = jobs.Run(spark, Tracer(spark, "warm-up", False), jobs.Checker(), work,
                   args.seed, cores, conf, f"{HERE}/_work/results.jsonl",
                   host_env(spark, cores))

    # -- set-up: session start (above) + one untraced warm-up job ----------------
    jobs.warm_up(run, events)
    setup_s = time.perf_counter() - T_START

    # -- inputs and references (not timed) -------------------------------------
    tracer = run.tracer = Tracer(spark, uuid.uuid4().hex[:8], bool(args.trace))
    if events:
        run.ref = jobs.events_input()
    print(f"[perfbench] setup {setup_s:.1f} s, inputs "
          f"{time.perf_counter() - T_START - setup_s:.1f} s", file=sys.stderr, flush=True)

    # -- measured closed loop ------------------------------------------------
    tracer.install()
    t_loop = time.perf_counter()
    last = 0.0
    while not run.jobs or (time.perf_counter() - t_loop + last <= args.seconds
                           and time.perf_counter() - T_START + last <= RUN_BUDGET_S):
        t = time.perf_counter()
        n = len(run.jobs) + 1
        rec = (jobs.events_job(run, n) if events
               else jobs.transcripts_job(run, jobs.TRANSCRIPT_CONVS, n,
                                         resume=bool(args.trace)))
        last = time.perf_counter() - t
        run.jobs.append(rec)
        run.record("job", {"workload": args.workload, "job": n, "trace": args.trace, **rec})
        print(f"[perfbench] job {n}: {json.dumps(rec)}", file=sys.stderr, flush=True)
    if args.trace and not events:
        jobs.scaling_pair(run)      # per-layer figures: measured in traced runs only
    trace_self_s = tracer.self_s
    tracer.harvest()
    tracer.uninstall()

    if args.trace:
        metrics = jobs.per_layer(run, session_s, trace_self_s, peak_rss_mb(run.spark))
        tracer.dump(f"{HERE}/_work/spans-{args.workload}-{args.seed}.jsonl")
    else:
        metrics = jobs.end_to_end(run, setup_s)
    run.record("result", {"workload": args.workload, "trace": args.trace,
                          "setup_s": setup_s, "metrics": metrics})
    return run, metrics


if __name__ == "__main__":
    sys.exit(main())
