"""Warehouse benchmark: one workload per invocation.

    python3 perfbench/run.py --workload cron_ingest --seed 1 --seconds 9 --trace 0

Run from the repository root. Workloads: ``cron_ingest`` (hourly
``load`` + ``marts`` over freshly landed crawl files), ``stream_upsert``
(the same files through the streaming silver writer and the keyed
upsert sink) and ``query_mix`` (a closed loop of catalog queries over
the sf0.01 fixture tables under ``perfbench/data``). Crawl files are
generated from ``--seed`` inside a work directory under the
repository root, which is removed at exit; the seed also shuffles the
query mix.

Stdout: one ``metric`` line per user-facing metric of the workload,
then, as the last line, a JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``. Exits 1
when a correctness check fails and 2 when the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = os.path.join(ROOT, "BENCHMARK.json")


def _launch_env(work: str) -> None:
    """Environment for the JVM and Spark's Python workers: the repo root
    on PYTHONPATH (workers import the package by name), one Spark core
    per usable CPU, and every temporary file inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path[:0] = [ROOT, HERE]


def _stop_spark() -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if sc is not None:
        sc.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def _metric_names(section: str) -> list[tuple[str, str]]:
    with open(BENCH, encoding="utf-8") as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[section]]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_warehouse_opensky_spark")):
        print("perfbench: package data_warehouse_opensky_spark not found under "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _launch_env(work)
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2

    run = Run(work, args.seed, args.seconds, bool(args.trace))
    try:
        WORKLOADS[args.workload](run)
        if run.tracer:
            spans_dir = os.path.join(ROOT, ".perfbench_work", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            run.tracer.dump(os.path.join(spans_dir, f"{args.workload}-{args.seed}.jsonl"))
    finally:
        if run.spark is not None:
            _stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    n = len(run.op_s)
    e2e = {
        "setup_s": run.setup_s,
        "op_p50_s": statistics.median(run.op_s),
        "ops_per_min": 60.0 * n / run.timed_s,
    }
    report = dict(run.report)
    report["setup_s"] = (run.setup_s, "s")
    report["error_rate"] = (run.failed / max(1, run.attempted), "ratio")
    for name, (value, unit) in sorted(report.items()):
        print(f"metric {args.workload} {name} = {value:.6g} {unit}")
    print(f"samples {args.workload} ops={n} timed_s={run.timed_s:.3f}")
    for label, dt in zip(run.op_labels, run.op_s):
        print(f"op {args.workload} {label} {dt:.4f} s")
    for problem in run.problems:
        print(f"problem {args.workload} {problem}")

    section = "per_layer" if args.trace else "end_to_end"
    values = run.layers if args.trace else e2e
    metrics = {name: {"value": values.get(name, 0.0), "unit": unit}
               for name, unit in _metric_names(section)}
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, run.attempted),
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
