"""Round-16 seam pins: the widened events guard (±inf event values now
rebuild to NULL like NaN, through the ONE shared ``contracts.star_guard``
projection), checked on the Spark side and against its DuckDB oracle twin.
"""

from __future__ import annotations

import math


def test_events_guard_nulls_all_non_finite_values(spark):
    """The r16 widening of the r12 events contract, pinned at the
    public seam: NaN AND ±inf ``value`` rebuild to NULL, finite values
    (including signed zero and denormals) are byte-unchanged, NULL-ts
    rows are dropped, and NULL value stays NULL — one projection,
    shared with the star tables via ``contracts.star_guard``."""
    import datetime as dt

    from tfm_taxitrips_spark.sources.readers import events_guard

    ts = dt.datetime(2025, 1, 1)
    rows = [
        (1, ts, float("nan")),
        (2, ts, float("inf")),
        (3, ts, float("-inf")),
        (4, ts, 2.5),
        (5, ts, -0.0),
        (6, ts, 5e-324),          # denormal: finite, must survive
        (7, ts, None),
        (8, None, 1.0),           # NULL ts: dropped entirely
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, value double")
    got = {int(r["event_id"]): r["value"]
           for r in events_guard(df).collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6, 7}  # row 8 dropped
    assert got[1] is None and got[2] is None and got[3] is None
    assert got[4] == 2.5
    assert got[5] == 0.0 and math.copysign(1.0, got[5]) == -1.0
    assert got[6] == 5e-324
    assert got[7] is None


def test_star_guard_cte_roundtrip_in_duckdb_matches_spark_for_events():
    """The widened `_EVENTS_GUARD_CTE` is the DuckDB twin of the
    Spark-side guard above: same NaN/±inf → NULL, same NULL-ts drop,
    finite values identical — checked value-for-value on the same
    planted rows (the engine-parity leg the star tables already have in
    test_round15_tools, closed here for events)."""
    import duckdb

    from tfm_taxitrips_spark.queries.registry import _EVENTS_GUARD_CTE

    conn = duckdb.connect()
    conn.sql("""
        CREATE VIEW events AS
        SELECT * FROM (VALUES
          (1, TIMESTAMP '2025-01-01', 'nan'::DOUBLE),
          (2, TIMESTAMP '2025-01-01', 'inf'::DOUBLE),
          (3, TIMESTAMP '2025-01-01', '-inf'::DOUBLE),
          (4, TIMESTAMP '2025-01-01', 2.5::DOUBLE),
          (5, TIMESTAMP '2025-01-01', NULL::DOUBLE),
          (6, NULL::TIMESTAMP, 1.0::DOUBLE)
        ) t(event_id, ts, value)
    """)
    got = {r[0]: r[1] for r in conn.sql(
        f"WITH {_EVENTS_GUARD_CTE} SELECT event_id, value "
        "FROM events_g").fetchall()}
    conn.close()
    assert set(got) == {1, 2, 3, 4, 5}  # NULL-ts row dropped
    assert got[1] is None and got[2] is None and got[3] is None
    assert got[4] == 2.5 and got[5] is None


if __name__ == "__main__":
    import pytest

    raise SystemExit(pytest.main([__file__, "-q"]))
