"""Full-registry sweep on a vanilla SparkSession, Spark vs DuckDB.

Runs every registered query through the ``__spark_entry__`` contract on a
plain ``SparkSession.builder`` session (none of the engine's
session-factory confs) and compares each result with its DuckDB oracle
(row count + schema + order-insensitive value hash, the same core as
``tests/oracle.compare``). ``tests/test_differential.py`` covers the
engine session at sf0.001; this covers the vanilla session at a larger
scale.

Run: ``python tools/selfcheck.py [sf_dir]`` (default: the sf0.01 fixture,
``tests/conftest.SF_CORRECT``). Prints one status line per query and
exits 1 if any query failed or a ``mem_*`` memory-sink view is left in
the session after the sweep. Writes nothing.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def failed(rec: dict) -> bool:
    """One definition of per-query failure: an oracle miss, any error,
    or — for rows-only queries — a silently empty result (zero rows must
    not pass as 'SKIP')."""
    if rec["hash_match"] is None:  # rows-only (no oracle)
        return not rec["spark_rows"]
    return rec["hash_match"] is False or bool(rec["err"])


def main() -> None:
    if len(sys.argv) > 2:
        sys.exit("usage: python tools/selfcheck.py [sf_dir]")

    from pyspark.sql import SparkSession

    from tests.conftest import SF_CORRECT

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_CORRECT

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("selfcheck-driver-sim")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    from tests.oracle import compare_result, duck_connection

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    n_fail = 0
    t0 = time.time()
    for i, (name, fn) in enumerate(qs.items(), 1):
        rec = {
            "rows_match": False, "schema_match": False, "hash_match": False,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        try:
            actual = fn(spark, sf_dir).toPandas()
            rec["spark_rows"] = len(actual)
            if name not in oracles:
                rec["err"] = "rows-only (no oracle)"
                rec["rows_match"] = rec["schema_match"] = rec["hash_match"] = None
            else:
                conn = duck_connection(sf_dir)
                try:
                    expected = conn.sql(oracles[name]).df()
                finally:
                    conn.close()
                rec.update(compare_result(actual, expected))
        except Exception as exc:  # record, keep sweeping
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
        if failed(rec):
            n_fail += 1
            status = f"FAIL {rec}"
        elif rec["hash_match"] is None:
            status = "SKIP"
        else:
            status = "MATCH"
        print(f"[{i}/{len(qs)}] {name}: {status}", flush=True)

    print(f"{len(qs)} queries, {n_fail} failures, {time.time() - t0:.0f}s")
    # every drain drops its memory-sink view; one left behind is a leak
    leaked = [t.name for t in spark.catalog.listTables()
              if t.name.startswith("mem_")]
    if leaked:
        print(f"{len(leaked)} memory-sink views left in the session: {leaked}")
    if n_fail or leaked:
        sys.exit(1)


if __name__ == "__main__":
    main()
