"""Run one benchmark workload and print its metrics.

    python3 provbench/run.py --workload build_history --seed 1 --seconds 30 --trace 0

Run from the repository root: the program under test (`git_prov_spark`) is
imported from there. Every file the run writes stays under
`.provbench_work/` in that directory. Output: progress and a `provbench`
report line (machine, versions, sizes, workload-specific latencies with their
sample counts, span summary), then, as the last line, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run is
traced and the metrics are the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = ".provbench_work"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def stop_jvm() -> None:
    """Shut down the JVM py4j launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def run(workload: str, seed: int, seconds: float, trace: bool, sizes=None) -> dict:
    """One run on a fresh Spark session; returns the result and report dicts.
    Stops the session but leaves the JVM up (see stop_jvm)."""
    from provbench import env, layers
    from provbench.inputs import make_layout
    from provbench.tracing import EventLog, wait_for_listeners
    from provbench.workloads import WORKLOAD_SIZES, Bench, bucket_scorer

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env.prepare_process(work)
    load_before, steal_before = env.loadavg(), env.cpu_steal_s()

    with env.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = env.start_session(work, event_log=trace)
        session_s = time.perf_counter() - t0
        try:
            layout = make_layout(seed, sizes or WORKLOAD_SIZES[workload],
                                 bucket_scorer(spark))
            bench = Bench(spark, work, layout, seed, trace)
            bench.setup()
            setup_s = time.perf_counter() - t0
            bench.compute_oracle()
            t_run = time.perf_counter()
            bench.run(workload, seconds)
            run_s = time.perf_counter() - t_run
            if trace:
                wait_for_listeners(spark.sparkContext)
                log = EventLog(os.path.join(work, "eventlog"),
                               spark.sparkContext.applicationId)
                metrics = layers.per_layer(bench, log, session_s)
            else:
                metrics = bench.end_to_end(setup_s)
            report = {
                "workload": workload, "seed": seed, "seconds": seconds,
                "trace": trace, "nproc": env.n_cores(), "ram_mb": env.ram_mb(),
                "driver_heap_mb": env.driver_heap_mb(),
                "loadavg_before": load_before, "loadavg_after": env.loadavg(),
                "cpu_steal_s": env.cpu_steal_s() - steal_before,
                "git_commit": env.git_commit(), "versions": env.versions(spark),
                "sizes": vars(layout.sizes), "repos": layout.repos,
                "setup_s": setup_s, "session_start_s": session_s, "run_s": run_s,
                "peak_rss_mb": rss.peak_mb, **bench.report(),
            }
            if trace:
                report["spans"] = layers.span_summary(bench.tracer)
                bench.tracer.write(os.path.join(
                    WORK_ROOT, f"spans-{workload}-seed{seed}.jsonl"))
        finally:
            spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    failed = sum(not o.ok for o in bench.ops)
    result = {
        "correct": failed == 0,
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return {"result": result, "report": report}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[0] = ROOT  # import from the repository root, not this script's dir
    try:
        import git_prov_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"provbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    from provbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"provbench: unknown workload {args.workload!r}; one of {WORKLOADS}",
              file=sys.stderr)
        return 2
    os.chdir(ROOT)
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_jvm()
    print(json.dumps({"provbench": out["report"]}), flush=True)
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
