"""Differential harness: replicate the driver's Spark-vs-DuckDB compare
locally (row count + schema shape + order-insensitive value compare), so
every ``queries()``/``oracle_sql()`` pair is verified before the driver
sees it.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from tfm_taxitrips_spark.schemas import STAR_TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    conn = duckdb.connect()
    for t in STAR_TABLES:
        conn.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return conn


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize cell values, sort rows."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "∅"
        if isinstance(v, float):
            if math.isinf(v):
                return repr(v)  # 'inf'/'-inf' — int(inf) would overflow
            if v == int(v) and abs(v) < 1e15:
                return f"{v:.1f}"
            return repr(v)
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    out = df.map(cell)
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def compare_result(actual: pd.DataFrame, expected: pd.DataFrame) -> dict:
    """Non-asserting comparison core: the driver-mirroring contract
    (row count → schema shape → canonicalized full-value frame compare),
    shared by the test harness's :func:`compare` and
    ``tools/selfcheck.py`` so the vanilla-session sweep measures the SAME
    contract the differential test enforces. Mutates the input
    frames' column case (callers pass throwaway ``toPandas`` results).
    """
    a_low = sorted(c.lower() for c in actual.columns)
    e_low = sorted(c.lower() for c in expected.columns)
    # columns differing only by case would collide after the lowercase
    # normalization and make pandas raise inside _canon — report that as a
    # clean schema mismatch instead of crashing the sweep (ADVICE r5)
    dup_free = len(set(a_low)) == len(a_low) and len(set(e_low)) == len(e_low)
    rec = {
        "rows_match": len(actual) == len(expected),
        "schema_match": dup_free and a_low == e_low,
        "hash_match": False,
        "spark_rows": len(actual),
        "oracle_rows": len(expected),
    }
    if rec["rows_match"] and rec["schema_match"]:
        actual.columns = [c.lower() for c in actual.columns]
        expected.columns = [c.lower() for c in expected.columns]
        rec["hash_match"] = _canon(actual).equals(_canon(expected))
    return rec


def compare(spark_df, sql: str, sf_dir: str, name: str = "query") -> None:
    """Assert the Spark result and the DuckDB oracle agree."""
    conn = duck_connection(sf_dir)
    try:
        expected = conn.sql(sql).df()
    finally:
        conn.close()
    actual = spark_df.toPandas()

    rec = compare_result(actual, expected)
    assert rec["rows_match"], (
        f"{name}: row count {len(actual)} (spark) != {len(expected)} (duckdb)"
    )
    a_cols = sorted(c.lower() for c in actual.columns)
    e_cols = sorted(c.lower() for c in expected.columns)
    assert a_cols == e_cols, f"{name}: columns {a_cols} != {e_cols}"

    if not rec["hash_match"]:
        ca, ce = _canon(actual), _canon(expected)
        neq = ca.ne(ce)
        bad_rows = neq.any(axis=1)
        diff_a = ca[bad_rows].head(5)
        diff_e = ce[bad_rows].head(5)
        raise AssertionError(
            f"{name}: value mismatch on {int(bad_rows.sum())}/{len(ca)} rows\n"
            f"spark:\n{diff_a}\nduckdb:\n{diff_e}"
        )
