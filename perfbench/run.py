#!/usr/bin/env python3
"""Benchmark entry point: one workload, one process, ``local[nproc]``.

    python3 perfbench/run.py --workload ship_backlog --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. Workloads (see ``workloads.py``):

- ``ship_backlog``: closed loop of ``shipper.run_batch`` calls, each
  shipping a seed-generated landing dir to a loopback receiver;
- ``ship_trickle``: open loop; a thread lands a file on a fixed
  schedule while ``shipper.run_stream`` drains back to back;
- ``query_mix``: closed loop over a fixed list of registered queries
  on seed-generated tables.

``--trace 0`` measures the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs the traced form and reports its per-layer metrics
(a layer the workload does not run reads 0). The second-to-last
stdout line is a detail record (host stamp, sizing, every failed
check, error_rate); the last is the result:
``{"correct", "attempted", "failed", "metrics"}``.

Set-up time is this process's own cold start: ``get_session``
(package import included) plus the query-registry import.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kinesis_s3_data_shipper_spark"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("ship_backlog", "ship_trickle", "query_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input sizes; tiny is for the smoke test")
    return p.parse_args(argv)


def wait_for_children(timeout_s: float = 30.0) -> None:
    """Wait until every descendant process has exited; kill stragglers."""
    import signal

    import procstat
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in procstat.tree_pids() if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to {HERE}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args: argparse.Namespace, spec: dict, work: str) -> int:
    import sparkenv
    sys.path.insert(0, ROOT)
    sizing = sparkenv.prepare(ROOT, work)

    import procstat
    t0 = time.perf_counter()
    from kinesis_s3_data_shipper_spark.session import get_session
    spark = get_session("perfbench", extra_confs=sparkenv.confs())
    t1 = time.perf_counter()
    from kinesis_s3_data_shipper_spark.plans import all_queries
    all_queries()
    t2 = time.perf_counter()
    setup = {"get_session_s": t1 - t0, "import_s": t2 - t1,
             "setup_s": t2 - t0}
    cpus = spark.sparkContext.defaultParallelism

    import workloads
    ctx = workloads.Ctx(spark=spark, seed=args.seed, seconds=args.seconds,
                        work=work, size=workloads.SIZES[args.size],
                        trace=bool(args.trace))
    try:
        steal0, t_run = procstat.cpu_ticks(), time.perf_counter()
        metrics, attempted = workloads.WORKLOADS[args.workload](ctx)
    finally:
        sparkenv.stop(spark)
        wait_for_children()
    if args.trace:
        metrics.update({"session.get_session_s": setup["get_session_s"],
                        "plans.import_s": setup["import_s"]})
        wanted = spec["per_layer"]
        # A layer the workload does not run reads 0.
        metrics = {m["name"]: 0.0 for m in wanted} | metrics
    else:
        metrics["setup_s"] = setup["setup_s"]
        wanted = spec["end_to_end"]
    failed = min(attempted, len(ctx.failures))
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "size": args.size,
        "cpus": cpus,
        "steal_pct": procstat.steal_pct(steal0, procstat.cpu_ticks()),
        "run_s": time.perf_counter() - t_run,
        **setup, **sizing,
        "error_rate": failed / max(1, attempted),
        "failures": ctx.failures[:20], **ctx.record}
    print(json.dumps(record, default=str))
    result = {
        "correct": not ctx.failures, "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]),
                                "unit": m["unit"]} for m in wanted}}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
