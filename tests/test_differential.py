"""Oracle-differential tests (SURVEY.md §5.1): every registered query with
an oracle is compared Spark-vs-DuckDB at sf0.001 (fast) — the driver redoes
this at sf0.01. Queries without an oracle are smoke-run (rows ≥ 0).
"""

from __future__ import annotations

import pytest

from tfm_taxitrips_spark.queries.registry import all_queries
from tests.oracle import compare

_ALL = all_queries()


@pytest.mark.parametrize("name", sorted(_ALL))
def test_query_matches_oracle(spark, sf_smoke, name):
    spec = _ALL[name]
    df = spec.fn(spark, sf_smoke)
    if spec.oracle is None:
        assert df.count() >= 0
    else:
        compare(df, spec.oracle, sf_smoke, name=name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_registry_contract():
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 20  # coverage floor, grows with SURVEY §2
    # order is deterministic: module-registration order, stable per call
    assert list(qs) == list(all_queries())
    assert list(all_queries()) == list(all_queries())


def test_mixed_batch_stream_event_reads(spark, sf_smoke):
    """readers.read_events footer-probes how ``ts`` is physically stored
    (native TIMESTAMP vs legacy TIMESTAMP(NANOS)-as-LONG) and only touches
    the session-global ``nanosAsLong`` toggle in the legacy branch. A
    session that interleaves a STREAMING events read, a BATCH events read,
    and a batch read of a non-events timestamp table must stay
    oracle-correct with either storage, and with a native-timestamp
    fixture the toggle must stay untouched."""
    from tests.oracle import compare

    import pyarrow.parquet as pq

    for name in ("stream_window_rollup", "windowed_agg_batch", "date_parts"):
        spec = _ALL[name]
        compare(spec.fn(spark, sf_smoke), spec.oracle, sf_smoke, name=name)
    ts_unit = pq.read_schema(f"{sf_smoke}/events.parquet").field("ts").type
    if getattr(ts_unit, "unit", None) in ("us", "ms"):
        # native-timestamp fixture: the legacy toggle must not have been set
        assert (
            spark.conf.get(
                "spark.sql.legacy.parquet.nanosAsLong", "false"
            )
            == "false"
        )


def test_date_queries_survive_non_utc_session(spark, sf_smoke):
    """The grading driver's session inherits the HOST timezone; table()
    pins UTC at the read seam so year()/date_trunc() stay aligned with
    DuckDB's naive timestamps even if the host is not UTC."""
    from tests.oracle import compare
    from tfm_taxitrips_spark.queries.registry import all_queries

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for name in ("date_parts", "date_trunc_day", "running_revenue"):
            spec = all_queries()[name]
            compare(spec.fn(spark, sf_smoke), spec.oracle, sf_smoke, name=name)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_compare_result_contract():
    """The non-asserting comparison core (shared by tests/oracle.compare
    and tools/selfcheck.py) must gate exactly like the driver: row count
    first, then case-insensitive column names, then canonicalized values
    (order-insensitive rows, float canon, NULL sentinel)."""
    import pandas as pd

    from tests.oracle import compare_result

    def rec(a, b):
        return compare_result(a.copy(), b.copy())

    base = pd.DataFrame({"K": [1, 2], "v": [1.5, None]})
    # identical up to column case and row order
    r = rec(base, pd.DataFrame({"k": [2, 1], "V": [None, 1.5]}))
    assert (r["rows_match"], r["schema_match"], r["hash_match"]) == (
        True, True, True)
    # row-count mismatch short-circuits the hash
    r = rec(base, pd.DataFrame({"K": [1], "v": [1.5]}))
    assert r["rows_match"] is False and r["hash_match"] is False
    assert (r["spark_rows"], r["oracle_rows"]) == (2, 1)
    # schema mismatch (extra/renamed column)
    r = rec(base, pd.DataFrame({"K": [1, 2], "w": [1.5, None]}))
    assert r["schema_match"] is False and r["hash_match"] is False
    # value mismatch with matching shape
    r = rec(base, pd.DataFrame({"K": [1, 2], "v": [1.5, 9.0]}))
    assert (r["rows_match"], r["schema_match"], r["hash_match"]) == (
        True, True, False)
    # integral floats canonicalize equal across int-ish representations
    r = rec(pd.DataFrame({"x": [2.0]}), pd.DataFrame({"x": [2.0]}))
    assert r["hash_match"] is True
