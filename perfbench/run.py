#!/usr/bin/env python3
"""Run one benchmark workload against the program in the enclosing checkout.

    python3 perfbench/run.py --workload pipeline_bulk --seed 1 --seconds 10 --trace 0

Inputs are generated from ``--seed`` and materialized as parquet before the
session starts; Spark runs at local[N] with N the cores this process may use.
After the workload's warm-up (see ``workloads.py``), operations repeat
until ``--seconds`` have passed; a run's figures are their median, and every
operation is checked.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones. With ``--trace 1`` the operation runs
instrumented, the metrics are the per-layer ones, and a per-stage /
per-query report is printed above the JSON line and written, with every
span, to ``.bench_traces/`` in the checkout.

Scratch files live in ``.bench_work/`` in the checkout and are removed on
exit. Exits non-zero, printing no result, when the program is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_HEAP = "4g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("pipeline_bulk", "query_suite"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument(
        "--seconds", type=float, required=True,
        help="shortest timed window; the figures are its operations' median",
    )
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file Spark writes inside the checkout, and let the Python
    workers import the program when the benchmark is not run from its root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    os.environ.pop("MASTER", None)


def start_spark(work: str):
    from cargo_dupes_spark.session import build_session

    cores = len(os.sched_getaffinity(0))
    return build_session(
        app_name="perfbench",
        parallelism=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads job and stage history after the fact
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and its Python workers to exit."""
    import signal

    from pyspark import SparkContext
    from rss import alive, tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = tree(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    # the Python worker daemon is the JVM's child: it exits on its own once
    # the JVM is gone, but this process must not exit before it does
    deadline = time.monotonic() + 30
    while any(alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if alive(p):
            os.kill(p, signal.SIGKILL)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(setup: dict, walls: list[float], docs: int) -> dict:
    wall_s = statistics.median(walls)
    return {
        "setup_s": metric(sum(setup.values()), "s"),
        "wall_s": metric(wall_s, "s"),
        "docs_per_s": metric(docs / wall_s, "docs/s"),
    }


def per_layer(setup: dict, traced: dict, rss_mb: float) -> dict:
    spark = traced["spark"]
    out = {name: metric(v, "s") for name, v in setup.items()}
    out.update(
        {
            "process.peak_rss_mb": metric(rss_mb, "MB"),
            "trace.wall_s": metric(traced["trace.wall_s"], "s"),
            "trace.overhead_s": metric(traced["trace.overhead_s"], "s"),
            "spark.jobs": metric(spark["jobs"], "count"),
            "spark.tasks": metric(spark["tasks"], "count"),
            "spark.cpu_s": metric(spark["cpu_s"], "s"),
            "spark.run_s": metric(spark["run_s"], "s"),
            "spark.gc_s": metric(spark["gc_s"], "s"),
            "spark.shuffle_mb": metric(spark["shuffle_mb"], "MB"),
            "spark.max_task_share": metric(spark["max_task_share"], "ratio"),
            "op.jobs_s": metric(traced["op.jobs_s"], "s"),
            "op.self_s": metric(traced["op.self_s"], "s"),
            "op.max_step_share": metric(traced["op.max_step_share"], "ratio"),
        }
    )
    for name, v in traced["kernels"].items():
        out[name] = metric(v, "count" if name == "kernel.shingles_per_doc" else "us")
    return out


def write_report(workload: str, seed: int, traced: dict) -> None:
    """Print the per-stage / per-query rows and save every span."""
    print(f"# traced {workload} seed={seed}: wall {traced['trace.wall_s']:.3f} s; "
          f"tracing overhead inside the operation {traced['trace.overhead_s'] * 1e3:.3f} ms "
          "(compare trace.wall_s with wall_s of an untraced run on the same seed)")
    detail = traced["detail"]
    for group in ("stage", "query"):
        for name, row in detail.get(group, {}).items():
            cells = " ".join(f"{k}={v:.4g}" for k, v in row.items())
            print(f"# {group}.{name}: {cells}")
    for name, v in detail.items():
        if not isinstance(v, dict):
            print(f"# {name} = {v:.6g}")
    traces = os.path.join(ROOT, ".bench_traces")
    os.makedirs(traces, exist_ok=True)
    with open(os.path.join(traces, f"{workload}-seed{seed}.json"), "w") as f:
        json.dump(traced, f, indent=1)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401  the program must be present
        import cargo_dupes_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from rss import PeakRss
    from tracing import Spans, StatusStore
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_environment(work)
    traced, walls = None, []
    try:
        workload = WORKLOADS[args.workload](work, args.seed)
        setup = {"setup.corpus_s": workload.make_inputs()}
        t0 = time.monotonic()
        spark = start_spark(work)
        setup["setup.session_s"] = time.monotonic() - t0
        try:
            t0 = time.monotonic()
            workload.warm_up(spark)
            setup["setup.warmup_s"] = time.monotonic() - t0
            if args.trace:
                with PeakRss(spark) as rss:
                    spans, store = Spans(), StatusStore(spark)
                    j0 = store.max_job_id()
                    timed = workload.run(spark, spans)
                    if timed is not None:
                        traced = workload.traced(spans, store, j0, timed)
                        traced["spans"] = spans.dump()
            else:
                t_window = time.monotonic()
                while not walls or time.monotonic() - t_window < args.seconds:
                    op = workload.run(spark)
                    if op is None:
                        break
                    walls.append(op.wall_s)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if traced is None and not walls:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    print(f"# {args.workload} seed={args.seed}: "
          + " ".join(f"{k}={v:.3f}" for k, v in setup.items())
          + "".join(f" op_wall_s={w:.3f}" for w in walls))
    if traced is None:
        metrics = end_to_end(setup, walls, workload.docs)
    else:
        write_report(args.workload, args.seed, traced)
        metrics = per_layer(setup, traced, rss.peak_mb)
    outcome = workload.outcome
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
