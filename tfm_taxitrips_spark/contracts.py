"""The non-finite ingest contract: allowlist + the Spark/DuckDB guard
pair, kept OUTSIDE :mod:`schemas` as the one shared definition that
``sources/readers.py`` and the query registry both import.
"""

from __future__ import annotations

#: The non-finite ingest contract's column allowlist (r14 probe →
#: ROUND14_NOTES §6): the float64 MEASURE columns that can legally carry
#: NaN/±inf on the wire and that the loader seam rebuilds to NULL in
#: BOTH engines (the ``events.value`` NaN-guard precedent, widened to
#: NOT-finite). Integer keys and dates cannot carry non-finite values
#: and stay untouched. Staged as data-only at r15; WIRED at r16:
#: ``sources.readers.table()`` applies
#: :func:`star_guard` (and ``events_guard`` routes through it), while
#: ``registry._guard_ingest_oracles`` auto-applies
#: :func:`star_guard_cte` to every star-scanning oracle. The non-finite
#: probe phase of ``tools/null_probe_sweep.py`` (default-on since r16)
#: builds its menagerie from THIS dict, so the sweep and the contract
#: cannot drift apart.
#: Completeness is pinned by test: the allowlist equals exactly the
#: DoubleType columns of ``schemas.DRIVER_TABLES``.
STAR_MEASURE_COLUMNS: dict[str, tuple[str, ...]] = {
    "lineitem": ("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    "orders": ("o_totalprice",),
    "part": ("p_retailprice",),
    "customer": ("c_acctbal",),
    "supplier": ("s_acctbal",),
    "events": ("value",),
}


def star_guard(df, table: str):
    """Spark side of the contract (wired r16 in
    ``sources.readers.table()``): rebuild every allowlisted measure
    column of ``table`` with NOT-finite → NULL in ONE projection;
    non-allowlisted tables pass through untouched. NULL stays NULL;
    every finite value is byte-unchanged (pinned by test). For
    ``events``, ``readers.events_guard`` keeps its NULL-ts drop and
    routes its value rebuild through this same projection — one
    predicate for both seams."""
    from pyspark.sql import functions as F

    cols = STAR_MEASURE_COLUMNS.get(table, ())
    if not cols:
        return df
    inf = float("inf")

    def guarded(c: str):
        col = F.col(c)
        bad = col.isNotNull() & (F.isnan(col) | (F.abs(col) == inf))
        return F.when(bad, F.lit(None).cast("double")).otherwise(col)

    return df.withColumns({c: guarded(c) for c in cols})


def star_guard_cte(table: str) -> str:
    """DuckDB twin of :func:`star_guard`, as a WITH-body fragment in the
    ``_EVENTS_GUARD_CTE`` shape — ``<table>_g AS (SELECT * REPLACE
    (...))`` — applied by ``registry._guard_ingest_oracles`` via
    ``guarded_scan_sql(oracle, table, f"{table}_g",
    star_guard_cte(table))``. The REPLACE physically rebuilds the
    columns so DuckDB's eager batch casts can't trip on
    filter-deselected non-finite rows (the events-guard reasoning).
    ``isfinite(NULL)`` is NULL → the CASE keeps NULL as NULL."""
    cols = STAR_MEASURE_COLUMNS.get(table, ())
    if not cols:
        raise ValueError(f"no allowlisted measure columns for {table!r}")
    repl = ", ".join(
        f"CASE WHEN isfinite({c}) THEN {c} ELSE NULL END AS {c}"
        for c in cols)
    return f"{table}_g AS (SELECT * REPLACE ({repl}) FROM {table})"
