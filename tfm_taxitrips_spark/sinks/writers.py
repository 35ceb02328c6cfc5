"""Sinks (SURVEY.md §2.2: K1-K5).

``write_view`` is the single seam the view pipeline writes through: parquet
locally/in tests, JDBC when a URL is configured — the reference hard-codes
``df.write.jdbc`` to PostgreSQL per view
(/root/reference/TransformTaxiTrips.py:115-119).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from tfm_taxitrips_spark.config import EngineConfig


def write_parquet_partitioned(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = ("year", "month"),
    mode: str = "append",
) -> None:
    """K1 — partitioned parquet append (/root/reference/IngestHistoricTrips.py:100-102).

    year/month partitioning keeps per-partition file counts sane at 100 TB
    (~12 top-level dirs per year) and gives static+dynamic partition pruning
    on the dominant query predicate (per-year rollups).
    """
    df.write.parquet(path, mode=mode, partitionBy=list(partition_by))


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = ("year", "month")
) -> None:
    """Incremental refresh: overwrite ONLY the partitions present in ``df``.

    The reference's daily transform recomputes and overwrites whole view
    tables per year (/root/reference/TransformTaxiTrips.py:115-119) — at
    100 TB a daily job must touch only the partitions it changed. Spark's
    dynamic partition-overwrite does exactly that: untouched year/month
    directories survive, the ones in ``df`` are atomically replaced (the
    idempotent-reprocessing property a restarted daily job needs).

    The mode rides the WRITER-level ``partitionOverwriteMode`` option, not
    a session-conf set/restore: the writer option scopes the setting to
    this one write, so a concurrent partitioned overwrite on the same
    session that expects STATIC semantics (replace the whole table) can
    never be silently flipped to dynamic mid-plan — the same
    session-global-mutation race class ``pipeline._drain_settings``
    guards against, here eliminated instead of guarded.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_jdbc_view(df: DataFrame, cfg: EngineConfig, table: str, mode: str = "overwrite") -> None:
    """K4 — JDBC batch write (/root/reference/TransformTaxiTrips.py:115-119).

    Executors write partition-parallel; for very wide rollups coalesce first
    so the target DB is not hit by hundreds of concurrent connections.
    """
    df.write.jdbc(
        url=cfg.jdbc_url,
        table=table,
        mode=mode,
        properties={
            "user": cfg.jdbc_user,
            "password": cfg.jdbc_password,
            "driver": cfg.jdbc_driver,
        },
    )


def write_view(df: DataFrame, cfg: EngineConfig, name: str) -> None:
    """Materialize a named rollup view: JDBC when configured, parquet otherwise."""
    if cfg.jdbc_url:
        write_jdbc_view(df, cfg, name)
    else:
        df.write.parquet(f"{cfg.views_path}/{name}", mode="overwrite")


def write_single_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K5 — single-file CSV (dimension outputs; /root/reference/AreasLoc.py:79-80)."""
    df.coalesce(1).write.csv(path, mode=mode, header=True)


def write_parquet_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger: str | None = "15 minutes",
    partition_by: tuple[str, ...] = ("year", "month"),
    available_now: bool = False,
) -> StreamingQuery:
    """K2 — streaming parquet sink (/root/reference/StreamingTaxiTrips.py:156-163).

    The 15-minute trigger is the reference's small-files fix (BASELINE.md);
    ``available_now`` drains the source and stops — used by tests and backfill.
    """
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


def write_stream_foreach_batch(
    df: DataFrame,
    checkpoint: str,
    batch_writer,
    available_now: bool = False,
    trigger: str | None = None,
) -> StreamingQuery:
    """Streaming → arbitrary batch sink via ``foreachBatch``.

    The modern replacement for sink formats the streaming engine lacks
    (JDBC, dynamic partition overwrite, MERGE): each micro-batch arrives as
    a plain batch DataFrame with an epoch id, executed with exactly-once
    bookkeeping from the checkpoint (re-delivered epochs must be written
    idempotently — e.g. :func:`overwrite_partitions`, which replaces the
    same partitions on replay).
    """
    writer = df.writeStream.foreachBatch(batch_writer).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


def kafka_payload(df: DataFrame, key_col: str = "taxi_id") -> DataFrame:
    """The reference's Kafka wire projection: key = CAST(<key_col> AS
    STRING), value = to_json(struct(*))
    (/root/reference/StreamingTaxiTrips.py:144-146). Pure projection —
    testable on a batch frame without a broker."""
    from pyspark.sql import functions as F

    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct("*")).alias("value"),
    )


def kafka_sink_options(brokers: str, topic: str, checkpoint: str) -> dict[str, str]:
    """The exact option map of the reference's Kafka sink
    (/root/reference/StreamingTaxiTrips.py:147-153) — note the checkpoint
    is PER SINK, never shared across queries."""
    return {
        "kafka.bootstrap.servers": brokers,
        "topic": topic,
        "checkpointLocation": checkpoint,
    }


def write_kafka_stream(
    df: DataFrame,
    brokers: str,
    topic: str,
    checkpoint: str,
    key_col: str = "taxi_id",
) -> StreamingQuery:
    """K3 — streaming Kafka sink: key=<key_col>, value=to_json(struct(*))
    (/root/reference/StreamingTaxiTrips.py:144-153)."""
    return (
        kafka_payload(df, key_col)
        .writeStream.format("kafka")
        .options(**kafka_sink_options(brokers, topic, checkpoint))
        .outputMode("append")
        .start()
    )


_BATCH_FORMATS = ("parquet", "orc", "json", "csv")


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
    **options: str,
) -> None:
    """Format-agnostic batch sink over Spark's DataSourceV2 matrix:
    columnar (``parquet``/``orc``) for analytics — both carry column
    statistics and predicate pushdown — and row-wise (``json``/``csv``)
    for interchange. One seam so pipelines pick a format by config, not by
    code path (the reference hard-codes one writer call per sink).

    CSV cannot carry nested structs/arrays; callers flatten first (Spark
    raises AnalysisException otherwise — surfaced, not swallowed).
    """
    if fmt not in _BATCH_FORMATS:
        raise ValueError(f"unsupported batch format {fmt!r}; one of {_BATCH_FORMATS}")
    writer = df.write.format(fmt).mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
