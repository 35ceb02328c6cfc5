"""Structured-Streaming pipelines (SURVEY.md §2.9, §2.6 A5).

The reference delegates its real-time rollup to Druid
(/root/reference/druid/kafkaIngestionTaxiTrips.json:42-87); here the engine
owns it natively: watermarked event-time windows over a streaming source.

``run_to_memory`` drains a streaming DataFrame with ``availableNow`` into a
memory sink and returns the result as a batch DataFrame — the test/backfill
path (production uses the kafka/parquet sinks in ``sinks.writers``).
"""

from __future__ import annotations

import shutil
import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tfm_taxitrips_spark.functions.aggregates import dsum
from tfm_taxitrips_spark.session import ephemeral_scratch_dir

#: serializes :func:`_drain_settings`: the settings it scopes are
#: SESSION-global, so two concurrent drains (a threaded bench, a parallel
#: test plugin) would otherwise race them and silently plan each other's
#: queries with the wrong values
_DRAIN_SCOPE_LOCK = threading.Lock()


@contextmanager
def _drain_settings(spark: SparkSession, output_mode: str):
    """The one place a drain changes session settings, restored on exit.

    - ``spark.sql.shuffle.partitions`` = ``min(defaultParallelism, 8)``:
      every state partition commits one state-store delta per batch
      whatever its size, and on 4 cores at sf0.1 the rule's 4 partitions
      drained the rollup, dedup and stream-stream join 14-30% faster than
      8. The count freezes into the drain's fresh checkpoint at
      ``start()``; state content does not depend on it.
    - complete mode only: ``noDataMicroBatches.enabled=false``. Complete
      mode re-emits the whole state every batch, so the trailing no-data
      batch cannot change the sink (−13% per drain at sf0.1). Append mode
      keeps it: that batch advances the watermark and flushes final rows.

    The non-blocking lock turns two concurrent drains in this process into
    a loud error. A concurrent BATCH plan built on the same session from
    another thread is still exposed (the conf is session-global by Spark's
    design): one planning query at a time per session, or isolate with
    ``SparkSession.newSession()`` per drain.
    """
    if not _DRAIN_SCOPE_LOCK.acquire(blocking=False):
        raise RuntimeError(
            "concurrent drains on one session: a drain holding the session "
            "settings is already in flight — serialize drains, or isolate "
            "with SparkSession.newSession() per drain"
        )
    try:
        n = min(spark.sparkContext.defaultParallelism, 8)
        settings = {"spark.sql.shuffle.partitions": str(n)}
        if output_mode == "complete":
            settings["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
        prev = {k: spark.conf.get(k) for k in settings}
        for k, v in settings.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)
    finally:
        _DRAIN_SCOPE_LOCK.release()


def _path_is_directory(spark: SparkSession, path: str) -> bool:
    """Layout-resolve ``path`` through the Hadoop FileSystem API, so the
    answer is correct for ANY scheme the cluster can read (s3://, hdfs://,
    file:/) — ``os.path.isdir`` sees only driver-local paths, and a remote
    directory-form table misclassified as single-file would stream zero
    rows, the exact silent-empty class this module exists to prevent
    (ADVICE r8). A missing table raises loudly instead of returning an
    empty stream.

    ``spark._jvm``/``_jsc`` are private PySpark attributes (stable for a
    decade, absent under Spark Connect): the supported-API alternative
    is to attempt the read and inspect the error class (PATH_NOT_FOUND)
    — switch if a connect-only deployment ever matters (ADVICE r9
    note)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        raise FileNotFoundError(
            f"stream source {path!r} does not exist — a missing table must "
            "fail the pipeline, not stream zero rows"
        )
    return fs.getFileStatus(hpath).isDirectory()


def stream_table(spark: SparkSession, sf_dir: str, name: str, schema) -> DataFrame:
    """Streaming parquet scan of one table that handles BOTH on-disk
    layouts a table ships in: a single file named ``<name>.parquet``
    (the driver fixtures) or a directory of part files under
    ``<name>.parquet/`` (every Spark-written dataset — sinks, the
    replicated scale fixtures, real deployments). Layout detection goes
    through the Hadoop FileSystem API (:func:`_path_is_directory`), so
    remote URIs resolve correctly and a missing table raises instead of
    silently streaming nothing.

    The old single-layout form (``pathGlobFilter=<name>.parquet`` over
    ``sf_dir``) matched LEAF FILE names only, so a directory-form table
    streamed ZERO rows — silently: the drain completes, the sink holds an
    empty table, and only a non-emptiness assertion downstream can notice
    (found by the round-8 strong-scaling stream leg finishing a ×10 drain
    in 0.29 s with zero shuffle). Directory-form tables stream from the
    table root directly, which also keeps partitioned layouts readable.
    """
    path = f"{sf_dir}/{name}.parquet"
    reader = spark.readStream.schema(schema)
    if _path_is_directory(spark, path):
        return reader.parquet(path)
    # single-file fixture: the file source requires a directory, so scan
    # the parent glob-filtered to the one leaf file
    return reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table (file source stands in for Kafka,
    SURVEY.md §2.1 S5).

    The file source needs an explicit schema, and the fixture's ``ts`` has
    shipped both as TIMESTAMP(NANOS) (readable only as a raw LONG) and as
    plain TIMESTAMP(MICROS) — so probe with the batch twin
    (:func:`tfm_taxitrips_spark.sources.readers.read_events`, which owns
    the type-adaptation logic) and lift ITS already-normalized schema into
    the stream. The probe is one footer read, not a data scan.

    The stream then passes through the SAME ``conform_to_pinned`` layer as
    the batch reader (a pure projection, streaming-safe): without it a
    regen that drifts a non-``ts`` column (e.g. ``value`` to decimal)
    would leave the 10 stream queries computing on raw drifted types
    while batch/oracle paths use the pinned ones."""
    from tfm_taxitrips_spark import schemas
    from tfm_taxitrips_spark.sources.readers import (
        _read_events_raw,
        conform_to_pinned,
        normalize_event_ts,
    )

    from tfm_taxitrips_spark.sources.readers import events_guard

    raw, raw_ts = _read_events_raw(spark, f"{sf_dir}/events.parquet")
    src = stream_table(spark, sf_dir, "events", raw.schema)
    # same r12 telemetry ingest contract as the batch reader (NULL-ts
    # rows excluded, NaN value → NULL): without it the watermark layer
    # silently dropped NULL event times that every batch oracle kept,
    # and a single NaN value crashed the stateful agg's ANSI cents cast
    return events_guard(conform_to_pinned(
        normalize_event_ts(src, raw_ts), schemas.DRIVER_TABLES["events"], "events"
    ))


def windowed_rollup(
    stream: DataFrame,
    ts_col: str = "ts",
    dims: tuple[str, ...] = ("event_type",),
    window_duration: str = "15 minutes",
    watermark_delay: str = "15 minutes",
    value_col: str = "value",
) -> DataFrame:
    """A5 — the Druid rollup owned natively: watermarked tumbling window ×
    dims with count + sum metrics. Partial (map-side) aggregation applies;
    state is bounded by the watermark."""
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_duration).alias("w"), *dims)
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(value_col).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), *dims, "n_events", "total_value")
    )


def run_to_memory(
    df: DataFrame,
    spark: SparkSession,
    output_mode: str = "complete",
) -> DataFrame:
    """Drain a streaming DataFrame (availableNow) into a memory sink; return
    the materialized result as a batch DataFrame.

    The drain runs under :func:`_drain_settings` on
    ``min(defaultParallelism, 8)`` state partitions, because per-partition
    state commits dominate a drain (on 4 cores, 4 drained 14-30% faster
    than 8). The memory-sink view is dropped before returning; the
    returned frame keeps the sink's rows."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    chk = ephemeral_scratch_dir("tfm_chk_")
    with _drain_settings(spark, output_mode):
        query = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    # the drain is complete: the checkpoint (offsets/state WAL) has no
    # further reader — remove it rather than leaking one dir per call
    shutil.rmtree(chk, ignore_errors=True)
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out
