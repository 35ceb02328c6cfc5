"""End-to-end pipeline tests (SURVEY.md §3): historic ingest → partitioned
parquet (K1), areas-dimension build (AreasLoc analog), and the streaming
job (S5-S6 → clean → J2 → K2) with batch-stream parity."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.taxi_fixtures import (
    make_trips,
    trip_json_row,
    write_areas_csv,
    write_comm_areas_csv,
    write_trips_csv,
)
from tfm_taxitrips_spark.config import EngineConfig
from tfm_taxitrips_spark.operators.cleaning import clean_trips
from tfm_taxitrips_spark.operators.enrich import enrich_trips_with_areas
from tfm_taxitrips_spark.pipelines import build_areas, ingest_historic, streaming_job
from tfm_taxitrips_spark.sources.readers import read_trips_csv, read_trips_parquet
from tfm_taxitrips_spark.sources import simulator
from tfm_taxitrips_spark.sources.simulator import replay_rows_as_json


@pytest.fixture(scope="module")
def trips():
    return make_trips(300, seed=11)


def test_ingest_historic_partitioned(spark, trips, tmp_path_factory):
    """K1: CSV → clean → parquet partitioned by year/month; partition dirs
    exist; reading back with a year predicate prunes correctly."""
    d = tmp_path_factory.mktemp("ingest")
    csv_path = str(d / "trips.csv")
    write_trips_csv(trips, csv_path, malformed=2)
    cfg = EngineConfig(csv_input_path=csv_path, trips_path=str(d / "pq"))
    quality = ingest_historic(spark, cfg)
    # Observation counters ride the write job (no second input pass)
    assert quality["rows_written"] == len(trips)
    assert quality["null_trip_ids"] == 0

    assert any(p.startswith("year=") for p in os.listdir(cfg.trips_path))
    back = read_trips_parquet(spark, cfg.trips_path, year=2017)
    assert back.count() == len(trips)
    months = {r.month for r in back.select("month").distinct().collect()}
    expected_months = {t.start.month for t in trips}
    assert months == expected_months


def test_build_areas_dimension(spark, trips, tmp_path_factory):
    """AreasLoc analog (J3+F1+A2+K5): distinct mappable centroids joined to
    CommAreas names, one row per area present in the trips."""
    d = tmp_path_factory.mktemp("areas")
    csv_path, comm_path = str(d / "trips.csv"), str(d / "comm.csv")
    write_trips_csv(trips, csv_path, malformed=0)
    write_comm_areas_csv(comm_path)
    cfg = EngineConfig(csv_input_path=csv_path, trips_path=str(d / "pq"))
    cfg.extra["comm_areas_path"] = comm_path
    cfg.extra["areas_out_path"] = str(d / "areas_out")
    ingest_historic(spark, cfg)

    areas = build_areas(spark, cfg, trips_year=2017)
    rows = areas.collect()
    mappable = {
        t.pickup_area
        for t in trips
        if t.company is not None and t.pickup_area is not None
    }
    assert {r.area_number for r in rows} == mappable
    one = next(r for r in rows if r.area_number == min(mappable))
    assert one.community == f"COMMUNITY_{one.area_number}"
    assert os.path.isdir(cfg.extra["areas_out_path"])  # K5 single-file CSV


def test_streaming_job_parity(spark, trips, tmp_path_factory):
    """The full streaming path (JSON drop → from_json → clean → inner join →
    partitioned parquet sink, availableNow) must equal the batch pipeline on
    the same rows (SURVEY.md §5.4)."""
    d = tmp_path_factory.mktemp("stream")
    drop_dir, out_dir = str(d / "drop"), str(d / "out")
    write_areas_csv(str(d / "areas.csv"))

    replay_rows_as_json((trip_json_row(t) for t in trips), drop_dir, batch_size=64)

    cfg = EngineConfig(
        csv_input_path=drop_dir,
        trips_path=out_dir,
        area_path=str(d / "areas.csv"),
        checkpoint_hdfs_path=str(d / "chk"),
    )
    queries = streaming_job(spark, cfg, available_now=True)
    for q in queries:
        q.awaitTermination()

    got = spark.read.parquet(out_dir)

    # batch reference on the same rows: clean CSV path + inner join
    csv_path = str(d / "trips.csv")
    write_trips_csv(trips, csv_path, malformed=0)
    from tfm_taxitrips_spark.sources.readers import read_dimension_csv

    batch = enrich_trips_with_areas(
        clean_trips(read_trips_csv(spark, csv_path)),
        read_dimension_csv(spark, str(d / "areas.csv")),
        how="inner",
    )
    assert got.count() == batch.count()
    g = got.agg(F.sum("fare"), F.sum("trip_seconds")).first()
    b = batch.agg(F.sum("fare"), F.sum("trip_seconds")).first()
    assert g[0] == pytest.approx(b[0], abs=1e-6)
    assert g[1] == b[1]


def test_replay_publishes_each_batch_whole(tmp_path, monkeypatch):
    """A polling file source lists the drop directory at any moment: every
    batch is written under a hidden name (which the file source skips) and
    renamed into place, so a listed file is always complete."""
    written = []

    def spy(path, mode="r", *args, **kwargs):
        if "w" in mode:
            written.append(os.path.basename(path))
        return open(path, mode, *args, **kwargs)

    monkeypatch.setattr(simulator, "open", spy, raising=False)
    rows = [{"trip_id": str(i), "fare": i * 1.5} for i in range(5)]
    paths = replay_rows_as_json(rows, str(tmp_path), batch_size=2)
    assert [os.path.basename(p) for p in paths] == [
        "batch-00000.json", "batch-00001.json", "batch-00002.json"]
    assert written == ["." + os.path.basename(p) for p in paths]
    assert sorted(os.listdir(tmp_path)) == [os.path.basename(p) for p in paths]
    with open(paths[-1]) as f:
        assert f.read() == '{"trip_id": "4", "fare": "6.0"}'


def test_overwrite_partitions_touches_only_changed(spark, tmp_path):
    """Dynamic partition overwrite: a daily re-run replaces only the
    partitions it produced; sibling partitions survive byte-for-byte."""
    from tfm_taxitrips_spark.sinks.writers import overwrite_partitions

    path = str(tmp_path / "views")
    base = spark.createDataFrame(
        [(2017, 1, 10.0), (2017, 1, 20.0), (2017, 2, 30.0)],
        "year int, month int, v double",
    )
    base.write.parquet(path, partitionBy=["year", "month"])

    # re-run for month 2 only, with corrected numbers
    fixed = spark.createDataFrame([(2017, 2, 99.0)], "year int, month int, v double")
    conf_before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    overwrite_partitions(fixed, path)

    got = {
        (r.year, r.month, r.v) for r in spark.read.parquet(path).collect()
    }
    assert got == {(2017, 1, 10.0), (2017, 1, 20.0), (2017, 2, 99.0)}
    # the dynamic mode rides the writer option: the SESSION conf is never
    # touched (no set/restore window for a concurrent writer to race)
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        == conf_before
    )


def test_write_view_live_jdbc_roundtrip_via_embedded_derby(spark, tmp_path):
    """K4 LIVE: the JDBC leg of ``write_view`` against a REAL database —
    Derby, embedded in every Spark distribution (it ships for the Hive
    metastore), driven through Spark's own JDBC source in-JVM. This
    retires the long-standing 'no DB in sandbox' gap for K4: the seam's
    url/driver/properties wiring, the DerbyDialect DDL (overwrite =
    drop+create, i.e. the daily job's idempotent re-run), the
    partition-parallel write, and the JDBC read-back all execute live.
    The reference hard-codes ``df.write.jdbc`` to PostgreSQL per view
    (/root/reference/TransformTaxiTrips.py:115-119); swapping
    ``cfg.jdbc_url``/``jdbc_driver`` is the entire difference — which is
    the seam's point."""
    from tfm_taxitrips_spark.sinks.writers import write_view

    db = str(tmp_path / "derby_db")
    cfg = EngineConfig(
        jdbc_url=f"jdbc:derby:{db};create=true",
        jdbc_driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    view = spark.createDataFrame(
        [(2017, "North", 3, 120.5), (2017, "South", 1, 33.0)],
        "year int, area string, n_trips bigint, revenue double",
    )
    write_view(view, cfg, "company_area_view")
    # the daily-job property: a re-run overwrites, not appends
    write_view(view, cfg, "company_area_view")

    back = (
        spark.read.format("jdbc")
        .option("url", cfg.jdbc_url)
        .option("dbtable", "company_area_view")
        .option("driver", cfg.jdbc_driver)
        .load()
    )
    # Derby reports identifiers uppercase; values and column ORDER are
    # what the seam guarantees
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, view.collect())
    )


def test_jdbc_read_pushes_predicates_to_database(spark, tmp_path):
    """The JDBC source must push filters INTO the database (they become
    the WHERE clause of the generated query) — at production scale the
    serving DB evaluates the predicate, Spark does not scan the table.
    Same pushdown contract the parquet scans pin, extended to the JDBC
    source, verified live against embedded Derby."""
    from tfm_taxitrips_spark.sinks.writers import write_view

    db = str(tmp_path / "derby_db")
    cfg = EngineConfig(
        jdbc_url=f"jdbc:derby:{db};create=true",
        jdbc_driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    view = spark.createDataFrame(
        [(y, float(y)) for y in range(2010, 2020)], "year int, revenue double"
    )
    write_view(view, cfg, "rev_by_year")

    back = (
        spark.read.format("jdbc")
        .option("url", cfg.jdbc_url)
        .option("dbtable", "rev_by_year")
        .option("driver", cfg.jdbc_driver)
        .load()
        .where(F.col("year") >= 2017)
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the '*' marks the filter as FULLY handled by the source — Spark
    # applies no residual post-scan filter
    assert "PushedFilters" in plan
    assert "*GreaterThanOrEqual(year,2017)" in plan
    assert back.count() == 3


def test_transform_views_live_to_derby_end_to_end(spark, trips, tmp_path_factory):
    """§3.1 LIVE: the daily transform (scan year → dedup → enrich → four
    rollup views) writing through the JDBC seam into a REAL database,
    each view read back via JDBC and compared row-for-row with the
    frames the transform computed — the closest full-parity analog of
    the reference's TransformTaxiTrips → PostgreSQL path
    (/root/reference/TransformTaxiTrips.py:115-119) this environment can
    run."""
    from collections import Counter

    from tfm_taxitrips_spark.pipelines import transform_views

    d = tmp_path_factory.mktemp("transform_jdbc")
    csv_path, areas_path = str(d / "trips.csv"), str(d / "areas.csv")
    write_trips_csv(trips, csv_path, malformed=0)
    write_areas_csv(areas_path)
    cfg = EngineConfig(
        csv_input_path=csv_path,
        trips_path=str(d / "pq"),
        area_path=areas_path,
        jdbc_url=f"jdbc:derby:{d}/derby_db;create=true",
        jdbc_driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    ingest_historic(spark, cfg)
    views = transform_views(spark, cfg, year=2017)
    assert set(views) == {
        "companies_pickup_area_view",
        "pickup_area_view",
        "companies_dropoff_area_view",
        "dropoff_area_view",
    }
    for name, df in views.items():
        back = (
            spark.read.format("jdbc")
            .option("url", cfg.jdbc_url)
            .option("dbtable", f"{name}_2017")
            .option("driver", cfg.jdbc_driver)
            .load()
        )
        # Counter, not sorted(): view keys carry legitimate NULLs
        # (unknown areas survive the left join) and None is unorderable
        assert Counter(map(tuple, back.collect())) == Counter(
            map(tuple, df.collect())
        ), name
