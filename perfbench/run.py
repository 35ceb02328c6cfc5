"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload taxi_batch --seed 1 --seconds 30 --trace 0

Run from the root of a checkout: the engine package is imported from
there, generated inputs are cached under ``.perfbench/cache`` and each
run's temporary outputs live under ``.perfbench/work`` until it ends. The
last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``
holding the ``end_to_end`` metrics of ``BENCHMARK.json`` (``--trace 0``)
or its ``per_layer`` metrics (``--trace 1``); with ``--trace 1`` the
run's spans are also written to ``.perfbench/spans-<workload>-<seed>.json``.

Exit codes: 0 when every output matched, 1 on a mismatch or a failed
engine call; a crash exits non-zero without a result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _environment(work: str) -> None:
    """Keep the engine's, Spark's and Python's temporary files inside
    the checkout, and make the package importable in Spark's Python
    workers."""
    for d in ("tmp", "chk", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, spark-submit's launcher included: temp files inside the
    # checkout, and no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-XX:-UsePerfData") if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # The engine puts call-scoped checkpoints and WAL files on /dev/shm
    # when it can; the benchmark must not write outside its checkout, so
    # they go to the checkout's disk (the engine's own override knob).
    os.environ["SPARK_GRAFT_CHK_SCRATCH"] = os.path.join(work, "chk")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for knob in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_UI"):
        os.environ.pop(knob, None)  # the engine's defaults: local[SPARK_GRAFT_CPUS], 8g


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    import tfm_taxitrips_spark  # noqa: F401  (fail before any work when absent)

    import workloads

    if a.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {a.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer" if a.trace else "end_to_end"]

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work", f"{a.workload}-{os.getpid()}")
    _environment(work)
    run = workloads.Run(workload=a.workload, seed=a.seed, seconds=a.seconds,
                        trace=bool(a.trace), work=work, cache=os.path.join(state, "cache"))
    try:
        metrics = workloads.WORKLOADS[a.workload](run)
    finally:
        if a.trace:
            run.tracer.dump(os.path.join(state, f"spans-{a.workload}-{a.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
