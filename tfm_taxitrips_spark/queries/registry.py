"""Query registry — the single source for ``__spark_entry__.queries()`` /
``oracle_sql()`` and for ``bench.py``.

Each entry pairs a PySpark query (``fn(spark, sf_dir) -> DataFrame``) with
the ANSI-SQL oracle DuckDB runs on the same parquet. Column aliases match
exactly on both sides (the driver's compare sorts columns by name and
hashes values). Entries with ``oracle=None`` are non-SQL-expressible and get
the driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set


# The events telemetry-ingest contract's oracle twin (the Spark side is
# sources.readers.events_guard, applied inside table()/read_events_stream
# — see its docstring for the r12 sweep findings): NULL-ts rows excluded,
# NOT-finite value rebuilt to NULL (r12 shipped the NaN case; r16 widens
# to ±inf with the star-table non-finite contract — one predicate,
# ``isfinite``, shared with contracts.star_guard_cte). The REPLACE
# physically rebuilds the value column so DuckDB's eager batch casts
# can't trip on filter-deselected non-finite rows (same reasoning as the
# vector guard's list rebuild). isfinite(NULL) is NULL → NULL stays NULL.
_EVENTS_GUARD_CTE = (
    "events_g AS (SELECT * REPLACE (CASE WHEN isfinite(value) THEN value "
    "ELSE NULL END AS value) FROM events WHERE ts IS NOT NULL)"
)


def _guard_ingest_oracles(spec: QuerySpec) -> QuerySpec:
    """Auto-apply the ingest-contract guards to any oracle that scans a
    guarded table — centralized here so every current AND future oracle
    is guarded by construction, instead of per-registration discipline.
    Two seams share this hook:

    - ``events`` (r12): NULL-ts drop + NOT-finite value → NULL
      (:data:`_EVENTS_GUARD_CTE`, widened from NaN-only in r16);
    - the five star tables (r16 non-finite ingest contract): every
      loader-allowlisted float64 measure column rebuilt NOT-finite →
      NULL (``contracts.star_guard_cte`` — the oracle twin of the
      ``contracts.star_guard`` projection ``readers.table()`` applies).

    Specs tagged ``raw-ingest`` opt out of BOTH (defect-detection
    queries whose Spark side reads ``table(..., raw=True)`` — the audit
    must SEE the defects the guards exclude).

    Trigger shapes differ deliberately. The events trigger is BROADER
    than the rewrite regex (``\\bevents\\b`` anywhere vs ``FROM/JOIN
    events``): an oracle that references events through a scan shape
    the rewriter misses (comma join, subquery alias trick) must fail
    LOUDLY via ``guarded_scan_sql``'s zero-rewrites ValueError at
    import time, not silently grade Spark-guarded against
    oracle-unguarded (r12 ADVICE item #1). The star triggers are
    NARROW (``FROM/JOIN <table>`` position, on the binding-masked
    text): star table names are ordinary English words — ``part``
    appears in literals and comments across the registry — so the broad
    trigger would false-positive; a star oracle scanning through an
    exotic shape is caught by the default-on non-finite sweep
    (tools/null_probe_sweep.py) instead, which grades exactly the
    Spark-guarded-vs-oracle-unguarded divergence the trigger could
    miss (ROUND15_NOTES §13)."""
    import dataclasses
    import re

    if spec.oracle is None or "raw-ingest" in spec.tags:
        return spec
    from tfm_taxitrips_spark.contracts import (
        STAR_MEASURE_COLUMNS,
        star_guard_cte,
    )
    from tfm_taxitrips_spark.queries.guards import (
        _binding_mask,
        guarded_scan_sql,
    )

    oracle = spec.oracle
    if re.search(r"\bevents\b", oracle, re.I):
        oracle = guarded_scan_sql(
            oracle, "events", "events_g", _EVENTS_GUARD_CTE)
    for table in STAR_MEASURE_COLUMNS:
        if table == "events":
            continue  # handled above (the guard also drops NULL ts)
        masked = _binding_mask(oracle)
        if re.search(rf"\b(?:FROM|JOIN)\s+{table}\b", masked, re.I):
            oracle = guarded_scan_sql(
                oracle, table, f"{table}_g", star_guard_cte(table))
        elif re.search(rf"\b{table}\b", masked, re.I):
            # Loud secondary check (r16 ADVICE #2): a BINDING mention of
            # a star table that the narrow FROM/JOIN trigger did not see
            # means the oracle reaches the table through a shape the
            # rewriter would miss (comma join, alias trick) — refuse at
            # registration instead of silently grading Spark-guarded
            # against oracle-unguarded (the events trigger's fail-loud
            # rationale, now mirrored on the star side; verified against
            # every registered oracle: zero bare-mention shapes exist, so
            # a first hit is a new, deliberate decision). Masked text, so
            # literals/comments mentioning 'part' etc. never trip this.
            raise ValueError(
                f"_guard_ingest_oracles: oracle mentions star table "
                f"{table!r} outside FROM/JOIN scan position — the guard "
                "rewrite would miss it; rewrite the oracle to a plain "
                "FROM/JOIN scan or tag the spec 'raw-ingest'")
    if oracle is spec.oracle:
        return spec
    return dataclasses.replace(spec, oracle=oracle)


def all_queries() -> dict[str, QuerySpec]:
    """Every registered query, in module-registration order."""
    from tfm_taxitrips_spark.queries import (
        analytics,
        blobdedup,
        boilerq,
        dataprep,
        encoding,
        graph,
        multimodal,
        opsaudit,
        relational,
        retrieval,
        sinkq,
        sketches,
        sqlsuite,
        streamq,
        temporal,
        text,
        vectors,
    )

    merged: dict[str, QuerySpec] = {}
    for module in (relational, text, vectors, streamq, multimodal, temporal,
                   sqlsuite, sketches, dataprep, analytics, retrieval, graph,
                   sinkq, opsaudit, blobdedup, encoding, boilerq):
        for name, spec in module.QUERIES.items():
            if name in merged:
                raise ValueError(f"duplicate query name: {name}")
            merged[name] = _guard_ingest_oracles(spec)
    return merged


if __name__ == "__main__":  # the README's live registry count
    qs = all_queries()
    n_oracle = sum(1 for s in qs.values() if s.oracle is not None)
    print(f"{len(qs)} registered queries ({n_oracle} oracle-paired)")
