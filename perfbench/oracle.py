"""Independent DuckDB computations the engine's outputs are checked against.

Nothing here imports the engine: each check re-derives the expected result
from the generated input files alone.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

from gen import WIRE_FIELDS

_TS = "'%m/%d/%Y %I:%M:%S %p'"
_MONEY = ("fare", "tips", "tolls", "extras", "trip_total")


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'; SET threads=4")
    return con


def _clean_trips_sql(source: str) -> str:
    """The typed trips a well-formed raw row becomes (all-varchar in)."""
    money = ", ".join(
        f"CAST(regexp_replace({c}, '[$,)]', '', 'g') AS DOUBLE) AS {c}" for c in _MONEY)
    return f"""
        SELECT trip_id, taxi_id,
               strptime(trip_start_timestamp, {_TS}) AS trip_start_timestamp,
               CAST(pickup_community_area AS INT) AS pickup_community_area,
               CAST(dropoff_community_area AS INT) AS dropoff_community_area,
               company, {money}
        FROM {source}"""


def _areas(con, areas_csv: str) -> None:
    con.execute(f"""CREATE OR REPLACE TABLE areas AS SELECT * FROM read_csv('{areas_csv}',
        header=true, columns={{'area_number': 'INT', 'community': 'VARCHAR',
        'area_centroid_latitude': 'VARCHAR', 'area_centroid_longitude': 'VARCHAR',
        'the_geom': 'VARCHAR'}})""")


def _enrich_sql(trips: str) -> str:
    return f"""
        SELECT t.*, p.community AS pickup_community_area_name,
               p.area_centroid_latitude AS pickup_area_centroid_latitude,
               p.area_centroid_longitude AS pickup_area_centroid_longitude,
               d.community AS dropoff_community_area_name,
               d.area_centroid_latitude AS dropoff_area_centroid_latitude,
               d.area_centroid_longitude AS dropoff_area_centroid_longitude
        FROM {trips} t
        LEFT JOIN areas p ON t.pickup_community_area = p.area_number
        LEFT JOIN areas d ON t.dropoff_community_area = d.area_number"""


def _same_rows(con, actual: str, expected: str) -> bool:
    """Multiset equality of two relations with the same column names."""
    cols = ", ".join(sorted(c[0] for c in con.execute(f"DESCRIBE {expected}").fetchall()))
    diff = con.execute(f"""SELECT
        (SELECT count(*) FROM (SELECT {cols} FROM {actual} EXCEPT ALL SELECT {cols} FROM {expected})),
        (SELECT count(*) FROM (SELECT {cols} FROM {expected} EXCEPT ALL SELECT {cols} FROM {actual}))
    """).fetchone()
    return diff == (0, 0)


def taxi_view_mismatches(csv_dir: str, areas_csv: str, views_path: str, year: int) -> list[str]:
    """Names of the four views whose parquet output differs from a DuckDB
    computation over the raw CSV (malformed-row drop, money/timestamp
    cleaning, trip_id dedup, left enrichment, the two aggregation levels)."""
    con = _connect()
    _areas(con, areas_csv)
    names = ", ".join(f"'{f}'" for f in WIRE_FIELDS)
    con.execute(f"""CREATE TABLE raw AS SELECT * FROM read_csv('{csv_dir}/*.csv',
        header=true, all_varchar=true, names=[{names}])""")
    # DROPMALFORMED: a row is dropped when any typed column fails to parse
    typed_ok = " AND ".join(
        [f"({c} IS NULL OR try_strptime({c}, {_TS}) IS NOT NULL)"
         for c in ("trip_start_timestamp", "trip_end_timestamp")]
        + [f"({c} IS NULL OR TRY_CAST({c} AS {t}) IS NOT NULL)" for c, t in (
            ("trip_seconds", "INT"), ("trip_miles", "DOUBLE"),
            ("pickup_community_area", "INT"), ("dropoff_community_area", "INT"))])
    con.execute(f"""CREATE TABLE trips AS SELECT * FROM ({_clean_trips_sql(
        f'(SELECT * FROM raw WHERE {typed_ok})')})
        WHERE year(trip_start_timestamp) = {year}""")
    con.execute("""CREATE TABLE dedup AS SELECT * FROM trips
        QUALIFY row_number() OVER (PARTITION BY trip_id ORDER BY fare) = 1""")
    con.execute(f"""CREATE TABLE enriched AS SELECT *,
        date_trunc('day', trip_start_timestamp) AS trip_start_date
        FROM ({_enrich_sql('dedup')})""")
    aggs = ", ".join(f"CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) AS {c}" for c in _MONEY)
    aggs += ", COUNT(trip_id) AS trips, COUNT(DISTINCT taxi_id) AS taxis"
    bad = []
    for role in ("pickup", "dropoff"):
        keys = (f"trip_start_date, {role}_community_area, {role}_community_area_name, "
                f"{role}_area_centroid_latitude, {role}_area_centroid_longitude")
        for view, group in ((f"companies_{role}_area_view", keys + ", company"),
                            (f"{role}_area_view", keys)):
            con.execute(f"""CREATE OR REPLACE TABLE expected AS
                SELECT {group}, {aggs} FROM enriched GROUP BY {group}""")
            con.execute(f"""CREATE OR REPLACE VIEW actual AS
                SELECT * REPLACE (CAST(trip_start_date AS TIMESTAMP) AS trip_start_date)
                FROM read_parquet('{views_path}/{view}_{year}/*.parquet')""")
            if not _same_rows(con, "actual", "expected"):
                bad.append(view)
    con.close()
    return bad


def star_connection(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = _connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, cells canonicalized, rows sorted: floats by exact
    ``repr`` (integral ones as ``1.0``), NULL/NaN as one token, timestamps
    in ISO form, arrays element by element."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "\u2205"
        if isinstance(v, float):
            if math.isinf(v):
                return repr(v)
            if v == int(v) and abs(v) < 1e15:
                return f"{v:.1f}"
            return repr(v)
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        if isinstance(v, (list, tuple, np.ndarray)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    out = df.map(cell)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def result_mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """Why a query result differs from its DuckDB oracle result, or None.

    The same contract as the repository's Spark-vs-DuckDB differential
    tests: equal row counts, equal lower-cased column names, then equal
    canonicalized values, order-insensitive."""
    if len(actual) != len(expected):
        return f"{len(actual)} rows, oracle {len(expected)}"
    a_cols = sorted(c.lower() for c in actual.columns)
    e_cols = sorted(c.lower() for c in expected.columns)
    if len(set(a_cols)) != len(a_cols) or a_cols != e_cols:
        return f"columns {a_cols}, oracle {e_cols}"
    actual = actual.set_axis([c.lower() for c in actual.columns], axis=1)
    expected = expected.set_axis([c.lower() for c in expected.columns], axis=1)
    if not _canon(actual).equals(_canon(expected)):
        return "values differ"
    return None
