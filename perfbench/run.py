"""Benchmark of the Betfair market database engine.

    python3 perfbench/run.py --workload index_build --seed 1 --seconds 10 --trace 0

Generates a seeded Betfair-shaped corpus, drives the public
``BetfairDatabase`` surface (index, select, insert), checks
every answer, and prints each metric by name and unit. The last line of
standard output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. A run performs a fixed amount of work (see ``workloads.py``);
``--seconds`` is accepted for the harness and does not change it. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
engine's layer entry points are wrapped for the whole run and the metrics
are the per-layer ones. A traced run also prints its end-to-end figures:
set beside an untraced run of the same seed, they show the tracing
overhead. Spans and per-operation counts of a traced run are written to
``.bench_work/traces/``.

Everything the run writes stays under ``.bench_work/`` in the checkout. The
first run in a checkout also builds the ``maintain`` workload's prebuilt
database there, which is not counted in any metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK_ROOT = ROOT / ".bench_work"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("index_build", "maintain"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: Path) -> None:
    """Make the engine importable here and in Spark's Python workers
    whatever the working directory, and keep Spark's scratch files inside
    the checkout. Resource settings are fixed so runs compare."""
    if not (ROOT / "betfair_database_spark" / "__init__.py").is_file():
        raise SystemExit(f"perfbench: no betfair_database_spark package under {ROOT}")
    sys.path.insert(0, str(ROOT))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p
        for p in (
            os.environ.get("SPARK_SUBMIT_OPTS"),
            f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData",
        )
        if p
    )


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    work = WORK_ROOT / args.workload
    if work.exists():
        shutil.rmtree(work)
    prepare_environment(work)
    sys.path.insert(0, str(HERE))
    import tracing
    import workloads

    built_s = workloads.ensure_base(WORK_ROOT / "maintain" / "db")
    if built_s:
        print(f"built the maintain workload's base database in {built_s:.1f} s")
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    try:
        t = time.perf_counter()
        wl.setup()
        setup_s = time.perf_counter() - t
        if args.trace:
            wl.tracer = tracing.Tracer(wl.spark)
            tracing.install(wl.tracer)
        try:
            samples = wl.measure()
        finally:
            if wl.tracer:
                wl.tracer.uninstall()
        e2e = workloads.end_to_end(samples, setup_s)
        report = workloads.workload_metrics(samples, wl.setup_parts)
        if wl.tracer:
            report.update(workloads.layer_metrics(wl.tracer))
            traces = WORK_ROOT / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            wl.tracer.dump(traces / f"{args.workload}-seed{args.seed}.json")
    finally:
        if hasattr(wl, "spark"):
            stop_spark(wl.spark)
        shutil.rmtree(work, ignore_errors=True)

    tally = wl.tally
    for err in tally.errors:
        print(f"FAILED: {err}")
    print(f"error_rate {tally.failed / tally.attempted:.6f} ratio "
          f"({tally.failed} of {tally.attempted} operations)")
    for name, unit, _ in workloads.END_TO_END:
        print(f"{name} {e2e[name]:.6g} {unit}")
    for name, unit, _ in workloads.PER_LAYER:
        print(f"  {name} {report.get(name, 0.0):.6g} {unit}")
    if args.trace:
        metrics = {
            name: {"value": report.get(name, 0.0), "unit": unit}
            for name, unit, _ in workloads.PER_LAYER
        }
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit, _ in workloads.END_TO_END}
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    result = run(parse_args(argv))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
