"""Rollup benchmark: ``run_pipeline`` cold build, late-data refresh and
serving reads on seeded Common-Crawl-style pages, checked against an
independent DuckDB reference.

    python3 perfbench/run.py --workload crawl_sparse --seed 1 --seconds 25 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Earlier lines summarize the run for a reader. Every
file the run writes stays under ``.perfbench/`` in the repository: the
work directory is removed at exit, traced runs keep their spans in
``.perfbench/spans/``. The exit code is 0 only when every operation
succeeded and every output matched the reference.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def stop_session(spark) -> None:
    """Stop the session, then the JVM pyspark launched, and wait for it:
    the JVM outlives ``spark.stop()`` until its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception:  # a signal can cut a JVM call short; stop the JVM anyway
        pass
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "spartan2_spark")):
        print(f"perfbench: no spartan2_spark package under {REPO}; run from a repository checkout",
              file=sys.stderr)
        return 2

    from workloads import WORKLOADS

    import runner

    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tr, _ = WORKLOADS[args.workload]
    home = os.path.join(REPO, ".perfbench")
    work = os.path.join(home, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update(runner.host_env(REPO, work))
    sys.path.insert(0, REPO)
    spark = run = None
    measured = {}
    ticks = runner.cpu_ticks()
    try:
        t = time.perf_counter()
        from spartan2_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t
        run = runner.Run(spark, args.workload, tr, args.seed, args.seconds, bool(args.trace), work,
                         os.path.join(home, "spans"))
        setup_s = run.setup(session_s)
        measured = run.measure()
        layers = run.layer_metrics(measured) if args.trace else None
        e2e = run.end_to_end(setup_s, measured)
        run.gate()
        host = {
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "mem_total_kb": runner.meminfo_kb("MemTotal"),
            "driver_mem": os.environ["SPARK_DRIVER_MEM"],
            "calibration_sort_1m_ms": runner.calibrate(),
            "cpu_steal_share": round(runner.steal_share(ticks, runner.cpu_ticks()), 4),
        }
        spans = run.dump_spans({"workload": args.workload, "seed": args.seed, "host": host,
                                "metrics": layers})
    finally:
        try:
            t = time.perf_counter()
            if spark is not None:
                stop_session(spark)
            if run is not None:
                run.phase_s["stop"] = time.perf_counter() - t
        finally:
            shutil.rmtree(work, ignore_errors=True)

    metrics = layers if args.trace else e2e
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} host={json.dumps(host)}")
    print(f"  points={run.n_points} refreshes={run.n_refreshes} reads={len(run.reads)} "
          f"error_rate={run.failed}/{run.attempted}={run.failed / run.attempted:.4f}")
    print("  phase wall s: " + " ".join(f"{k}={v:.2f}" for k, v in run.phase_s.items()))
    for build, total in (("cold", "cold_s"), ("refresh", "first_refresh_s")):
        if measured.get(total):
            print(f"  {build} stage share of wall: " + runner.stage_shares(
                measured[f"{build}_reports"], measured[total]))
    for name, (value, unit) in metrics.items():
        print(f"  {name:<44} {value:>16.6g} {unit}")
    for err in run.errors:
        print(f"  FAILED {err}")
    if spans:
        print(f"  spans: {os.path.relpath(spans, REPO)}")
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
