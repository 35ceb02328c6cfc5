"""The non-finite ingest contract's test kit (staged r15, contract
LANDED r16 — ROUND14_NOTES §6, ROUND15_NOTES §13): the
`contracts.STAR_MEASURE_COLUMNS` allowlist, the oracle harness's
inf-safe canonicalizer, the null-probe sweep's non-finite menagerie
phase, and the engine-parity/acceptance pins for the wired
`star_guard`/`star_guard_cte` pair. The r15 pre-wiring pass-through pin
inverted to the NULL expectation when the batch landed.
"""

from __future__ import annotations

import math
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest


def test_star_measure_allowlist_is_exactly_the_pinned_doubles():
    """The allowlist must name a real DoubleType column of the pinned
    driver schema for every entry AND cover every such column — the
    completeness direction matters: a future fixture column added as
    double but missed here would silently sit outside the r16
    contract."""
    from pyspark.sql.types import DoubleType

    from tfm_taxitrips_spark.contracts import STAR_MEASURE_COLUMNS
    from tfm_taxitrips_spark.schemas import DRIVER_TABLES

    pinned_doubles = {
        (t, f.name)
        for t, st in DRIVER_TABLES.items()
        for f in st.fields
        if isinstance(f.dataType, DoubleType)
    }
    allowlisted = {
        (t, c) for t, cols in STAR_MEASURE_COLUMNS.items() for c in cols
    }
    assert allowlisted == pinned_doubles


def test_oracle_cell_canonicalizer_is_inf_safe():
    """r14 probe harness gap #1: the canonical `cell` crashed on ±inf
    (OverflowError at int(inf)), so the r16 sweep extension could never
    have compared inf-bearing results. Fixed non-stalingly (the
    canonicalization of every FINITE value is unchanged): non-finite
    values canonicalize distinctly and matching frames match."""
    from tests.oracle import compare_result

    inf, ninf = float("inf"), float("-inf")
    a = pd.DataFrame({"x": [inf, ninf, float("nan"), 1.0, 1.5]})
    assert compare_result(a.copy(), a.copy())["hash_match"]
    # +inf, -inf, NaN, and finite values are four DISTINCT canon classes
    for other in (ninf, float("nan"), 1.0e308):
        b = pd.DataFrame({"x": [other, ninf, float("nan"), 1.0, 1.5]})
        assert not compare_result(a.copy(), b.copy())["hash_match"]


def test_nonfinite_phase_plants_every_allowlisted_column(tmp_path):
    """The sweep's non-finite menagerie is BUILT FROM the allowlist
    (one definition — the sweep and the contract cannot drift): with
    --nonfinite, every allowlisted star measure column carries NaN,
    +inf AND -inf planted rows with live join context; events.value
    gains ±inf beside its standing NaN; embeddings gain full-width
    vectors with one non-finite component (they pass the current
    is-null/length/non-zero guard — the r16 predicate's target)."""
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)
    from tools.null_probe_sweep import build_fixture

    from tfm_taxitrips_spark.contracts import STAR_MEASURE_COLUMNS

    build_fixture(str(tmp_path), nonfinite=True)
    for table, cols in STAR_MEASURE_COLUMNS.items():
        tdf = pq.read_table(f"{tmp_path}/{table}.parquet").to_pandas()
        for col in cols:
            vals = tdf[col]
            assert (vals == float("inf")).any(), (table, col, "+inf")
            assert (vals == float("-inf")).any(), (table, col, "-inf")
            assert vals.apply(
                lambda v: isinstance(v, float) and math.isnan(v)).any(), (
                table, col, "nan")
    emb = pq.read_table(f"{tmp_path}/embeddings.parquet").to_pandas()
    planted = emb[emb["vec_id"] >= 910_000]["embedding"]
    assert len(planted) == 3
    flat = [float(x) for v in planted for x in v]  # np.float32 → float
    assert any(math.isinf(x) and x > 0 for x in flat)
    assert any(math.isinf(x) and x < 0 for x in flat)
    assert any(math.isnan(x) for x in flat)
    # planted vectors are FULL-WIDTH (they pass the current emb_table
    # guard's length predicate — which is the point of the r16 one)
    dim = len(emb["embedding"].iloc[0])
    assert all(len(v) == dim for v in planted)


def test_table_loader_nulls_non_finite_measures(spark, tmp_path):
    """The contract landing, pinned as the INVERSE of the r15 pre-wiring
    test (test_table_loader_passes_non_finite_through_today): `table()`
    now rebuilds a planted +inf in an allowlisted measure column to
    NULL at the loader seam, while `raw=True` still exposes the wire
    value for defect-detection reads."""
    import pyarrow as pa

    from tfm_taxitrips_spark.sources.readers import table

    base = pq.read_table("/root/testdata/sf0.001/customer.parquet")
    row = {f.name: None for f in base.schema}
    row.update({"c_custkey": 910_001, "c_name": "inf probe",
                "c_acctbal": float("inf")})
    extra = pa.table({
        f.name: pa.array([row[f.name]], f.type) for f in base.schema
    })
    pq.write_table(pa.concat_tables([base, extra]),
                   f"{tmp_path}/customer.parquet")
    got = (table(spark, str(tmp_path), "customer")
           .where("c_custkey = 910001").toPandas())
    assert len(got) == 1
    assert pd.isna(got["c_acctbal"].iloc[0])  # the r16 contract flip
    raw = (table(spark, str(tmp_path), "customer", raw=True)
           .where("c_custkey = 910001").toPandas())
    assert math.isinf(raw["c_acctbal"].iloc[0])  # the audit escape hatch


@pytest.fixture(scope="module")
def nonfinite_fixture(tmp_path_factory):
    """One shared --nonfinite adversarial fixture for the guard tests."""
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)
    from tools.null_probe_sweep import build_fixture

    d = tmp_path_factory.mktemp("nonfinite")
    build_fixture(str(d), nonfinite=True)
    return str(d)


def _prenulled_frame(path: str, cols: tuple[str, ...]):
    """The contract's semantics applied in pandas: NOT-finite → NULL in
    the named columns — the independent reference both guards must
    equal."""
    import numpy as np

    pdf = pq.read_table(path).to_pandas()
    for c in cols:
        v = pdf[c]
        pdf[c] = v.where(np.isfinite(v.fillna(0.0)) | v.isna())
    return pdf


def test_star_guard_engines_agree_and_preserve_finites(
        spark, nonfinite_fixture):
    """The staged guard FUNCTIONS (unwired): for every allowlisted
    table, Spark `star_guard` and the DuckDB `star_guard_cte` produce
    cell-identical guarded measure columns on the adversarial fixture,
    both equal to the independent pandas rewrite — no non-finite value
    survives, NULL stays NULL, every finite value is byte-unchanged."""
    import duckdb

    from tests.oracle import compare_result
    from tfm_taxitrips_spark.contracts import (
        STAR_MEASURE_COLUMNS,
        star_guard,
        star_guard_cte,
    )

    for table, cols in STAR_MEASURE_COLUMNS.items():
        if table == "events":
            continue  # events wires through events_guard (NULL-ts drop)
        path = f"{nonfinite_fixture}/{table}.parquet"
        sdf = (star_guard(spark.read.parquet(path), table)
               .select(*cols).toPandas())
        conn = duckdb.connect()
        conn.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        try:
            ddf = conn.sql(
                f"WITH {star_guard_cte(table)} "
                f"SELECT {', '.join(cols)} FROM {table}_g").df()
        finally:
            conn.close()
        want = _prenulled_frame(path, cols)[list(cols)]
        assert compare_result(sdf.copy(), ddf.copy())["hash_match"], table
        assert compare_result(sdf.copy(), want.copy())["hash_match"], table
        for c in cols:  # no non-finite survives either engine
            assert not ((sdf[c].notna()) & ~sdf[c].apply(
                lambda v: math.isfinite(v))).any(), (table, c)


def test_star_guard_cte_unblocks_a_sweep_crashing_oracle(
        nonfinite_fixture, tmp_path):
    """The landed r16 wiring, proven from its parts:
    `sql_q1_pricing_summary`'s RAW (module-level, pre-merge) oracle
    CRASHES on the non-finite fixture (DuckDB NaN → DECIMAL cast — one
    of the 48 measured r15 sweep findings); routed through
    `guarded_scan_sql` + `star_guard_cte('lineitem')` — exactly what
    `registry._guard_ingest_oracles` now does at merge time — it runs,
    and returns exactly what the raw oracle returns on a fixture whose
    non-finite values were pre-rewritten to NULL — i.e. the CTE
    implements precisely the loader contract's semantics."""
    import duckdb

    from tests.oracle import compare_result
    from tfm_taxitrips_spark.contracts import (
        STAR_MEASURE_COLUMNS,
        star_guard_cte,
    )
    from tfm_taxitrips_spark.queries import sqlsuite
    from tfm_taxitrips_spark.queries.guards import guarded_scan_sql

    # the MODULE-level (pre-merge) oracle: registry.all_queries now applies
    # the star CTE itself, so the registered oracle no longer crashes —
    # this test keeps proving the CTE is what fixes the raw one
    oracle = sqlsuite.QUERIES["sql_q1_pricing_summary"].oracle
    li = f"{nonfinite_fixture}/lineitem.parquet"

    conn = duckdb.connect()
    conn.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{li}'")
    with pytest.raises(Exception, match="(?i)nan|inf|cast|range"):
        conn.sql(oracle).df()  # the documented crash class, reproduced
    guarded = guarded_scan_sql(
        oracle, "lineitem", "lineitem_g", star_guard_cte("lineitem"))
    actual = conn.sql(guarded).df()
    conn.close()

    pre = _prenulled_frame(li, STAR_MEASURE_COLUMNS["lineitem"])
    pre.to_parquet(f"{tmp_path}/lineitem.parquet")
    conn = duckdb.connect()
    conn.sql("CREATE VIEW lineitem AS SELECT * FROM "
             f"'{tmp_path}/lineitem.parquet'")
    expected = conn.sql(oracle).df()
    conn.close()
    assert compare_result(actual.copy(), expected.copy())["hash_match"]


def test_nonfinite_sweep_reproduces_documented_crash_classes():
    """Documentation pin (cheap, no Spark): the six queries the r14
    probe found crashing on non-finite input are all REGISTERED and
    oracle-paired, so the (default-on since r16) non-finite sweep has
    its targets; the landed batch turned exactly these from crash to
    guarded-NULL parity — 224/224 MATCH at the r16 landing. (The
    expensive sweep itself runs from the checklist, not pytest.)"""
    from tfm_taxitrips_spark.queries.registry import all_queries

    qs = all_queries()
    for name in ("windowed_agg_batch", "stream_window_rollup",
                 "time_weighted_avg", "stream_running_totals",
                 "embedding_covariance", "embedding_whitening_stats"):
        assert name in qs and qs[name].oracle is not None, name


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
