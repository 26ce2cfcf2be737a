"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see ``BENCHMARK.json``):
``etl_ingest`` and ``query_catalog``. Inputs are
generated from ``--seed``. After one untimed warm-up pass, a fixed
number of passes is timed (eight ``etl_ingest``, one ``query_catalog``;
eight and two with ``--trace 1``), more only while they have measured less than
``--seconds``. Outputs are checked after timing. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer ones).
Scratch files live under ``.perfbench_work/`` in the checkout; a traced
run leaves its spans there as ``spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "automated_data_pipeline_python_spark"


def _isolate_environment(work: str) -> None:
    """Keep the caller's tuning variables away from the program, and every
    scratch file inside the checkout."""
    for key in list(os.environ):
        if key.startswith("SPARK_GRAFT_") or key in ("SPARK_DRIVER_MEMORY", "PYSPARK_SUBMIT_ARGS"):
            del os.environ[key]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = ROOT  # Spark's Python workers import the package from here
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Steadier peak RSS: glibc otherwise grows up to 8 malloc arenas per
    # core, touched unevenly by the JVM's threads. No hsperfdata in /tmp.
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    sys.path.insert(1, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate_environment(work)
    from common import Run, stop_session

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        if args.workload == "etl_ingest":
            from etl import run_etl as workload
        else:
            from query_catalog import run_catalog as workload
        e2e = workload(run)
    finally:
        if run.spark is not None:
            stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        run.tracer.write(os.path.join(base, f"spans-{args.workload}-{args.seed}.json"))
        values, listed = run.layer, spec["per_layer"]
    else:
        values, listed = e2e, spec["end_to_end"]
    for problem in run.problems:
        print(f"FAILED {problem}", file=sys.stderr)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in listed}
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
