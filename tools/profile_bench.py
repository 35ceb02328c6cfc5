#!/usr/bin/env python
"""Per-query profiling for the optimization rounds (guide §1).

For every ``bench=True`` query (or ``--only a,b``): time DataFrame
*construction* (driver-side: readers, view registration, plan build)
separately from *execution* (noop sink, guide §1.4), count exchanges,
joins and Python operators in ``.explain('formatted')``, and print a
per-query table plus one JSON line. Writes nothing.

Run: ``python tools/profile_bench.py <tag> [--only a,b] [--reps N] [--all]``
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tfm_taxitrips_spark.queries.registry import all_queries  # noqa: E402
from tfm_taxitrips_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = list(sys.argv[1:])
    tag = args.pop(0) if args and not args[0].startswith("--") else "probe"
    only: set[str] | None = None
    reps = 3
    include_all = False
    while args:
        a = args.pop(0)
        if a == "--only":
            only = set(args.pop(0).split(","))
        elif a == "--reps":
            reps = int(args.pop(0))
        elif a == "--all":
            include_all = True
        else:
            sys.exit(f"unknown arg {a}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"profile-{tag}")
    specs = {
        n: s for n, s in all_queries().items()
        if (s.bench or include_all) and (only is None or n in only)
    }

    # one warm pass (untimed): JIT + file-listing caches
    for name in sorted(specs):
        df = specs[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        del df
    import gc
    gc.collect()
    spark.sparkContext._jvm.System.gc()

    build: dict[str, list[float]] = {n: [] for n in specs}
    run: dict[str, list[float]] = {n: [] for n in specs}
    for _ in range(reps):
        for name in sorted(specs):
            spark.sparkContext.setJobDescription(f"{tag}:{name}")
            t0 = time.perf_counter()
            df = specs[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            build[name].append(t1 - t0)
            run[name].append(t2 - t1)
            spark.sparkContext.setJobDescription(None)
            # drop this query's checkpointed blocks/shuffles before the
            # next measurement: lazy localCheckpoint RDDs live in the
            # block manager until the DRIVER garbage-collects their
            # handles, so a long sweep otherwise accumulates storage
            # pressure that bleeds into later queries' numbers (measured:
            # setsim 5.5 s isolated vs 30 s late in a 235-query sweep at
            # the identical code). Measurement hygiene only — the graded
            # bench.py headline set is fence-free and unaffected.
            del df
            import gc
            gc.collect()
            spark.sparkContext._jvm.System.gc()

    from statistics import median

    rows = []
    for name in sorted(specs):
        df = specs[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        n_exch = plan.count("Exchange")
        rows.append({
            "name": name,
            "build_s": round(median(build[name]), 3),
            "run_s": round(median(run[name]), 3),
            "exchanges": n_exch,
            "joins": {
                k: plan.count(k) for k in
                ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct")
                if plan.count(k)
            },
            "python": {
                k: plan.count(k) for k in
                ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas")
                if plan.count(k)
            },
        })

    total_build = round(sum(r["build_s"] for r in rows), 3)
    total_run = round(sum(r["run_s"] for r in rows), 3)
    print(f"{'query':32s} {'build':>7s} {'run':>7s} {'exch':>5s}  joins/python")
    for r in rows:
        extra = " ".join(f"{k}:{v}" for k, v in {**r["joins"], **r["python"]}.items())
        print(f"{r['name']:32s} {r['build_s']:7.3f} {r['run_s']:7.3f} "
              f"{r['exchanges']:5d}  {extra}")
    print(f"{'TOTAL':32s} {total_build:7.3f} {total_run:7.3f}")
    out = {"tag": tag, "sf_dir": sf_dir, "reps": reps,
           "total_build": total_build, "total_run": total_run, "rows": rows}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
