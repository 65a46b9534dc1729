"""Benchmark entry point.

    python3 perfbench/run.py --workload lakehouse --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  Workloads (see perfbench/METRICS.md):
``lakehouse`` (analyst_qa and lake_ingest in one process), ``corpus_curation``,
and the two halves of lakehouse on their own, ``analyst_qa`` and
``lake_ingest``.  Inputs are generated from ``--seed``; the timed loop runs
whole cycles until ``--seconds`` have passed (corpus_curation runs exactly
one pass); every output is checked.  With ``--trace 0`` the result carries
the end-to-end metrics, with ``--trace 1`` the per-layer ones, and the spans
are written to ``.perfbench_work/traces/``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
A readable table of every metric goes to stdout before it.  The exit code
is 0 whenever a result was printed, failed operations included.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

PACKAGE = "local_llm_iceberg_cdw_spark"
WORKLOADS = ("lakehouse", "corpus_curation", "analyst_qa", "lake_ingest")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(root: str, workdir: str) -> None:
    """Make the engine importable by this process and by Spark's Python
    workers, and keep every working file inside ``workdir``."""
    if root not in sys.path:
        sys.path.insert(0, root)
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join([root, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": os.path.join(workdir, "tmp"),
        "TZ": "UTC",
    })
    time.tzset()


def report(workload: str, result: dict, every: dict, units: dict, out=sys.stdout) -> None:
    """Every metric as a table, then the result object as the last line."""
    for name in sorted(every):
        print(f"{workload:16s} {name:44s} {every[name]:>16.6g} {units[name]}", file=out)
    print(json.dumps(result), file=out)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    workdir = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(root, workdir)

    from perfbench import common, runner

    ctx = common.RunContext(seed=args.seed, seconds=args.seconds,
                            tracer=common.Tracer(bool(args.trace)), workdir=workdir)
    spark = None
    try:
        result = runner.run_workload(args.workload, ctx)
        spark = result.pop("_spark")
        every = result.pop("_all")
        ctx.tracer.write(os.path.join(root, ".perfbench_work", "traces",
                                      f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
        if spark is not None:
            runner.stop_spark(spark)
        runner.cleanup(ctx)
    report(args.workload, result, every, {**runner.END_TO_END, **runner.PER_LAYER})
    return 0


if __name__ == "__main__":
    sys.exit(main())
