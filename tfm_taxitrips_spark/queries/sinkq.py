"""Sink round-trip queries: give the K-family sinks (SURVEY.md §2.2) a
driver-checkable contract. Each query writes through the real sink seam
into a throwaway dir, reads its own output back, and aggregates — so the
oracle (plain SQL over the source table) proves the whole
write→layout→read path, not just the write call. Dirs are removed after
the small result is materialized (the stream_topk hygiene pattern), and
allocated via :func:`session.ephemeral_scratch_dir` (r18): call-scoped
throwaway data prefers RAM-backed scratch — the many-tiny-file commits
(especially the compaction query's deliberate fragmentation) were pure
fsync latency on a disk tempdir, and every audited fact (file counts,
fingerprints, row parity) is location-invariant.

K1 partitioned parquet: /root/reference/TransformTaxiTrips.py:115-117
K2 streaming parquet:   /root/reference/StreamingTaxiTrips.py:156-163
K5 single-file CSV:     /root/reference/AreasLoc.py:79-80

EAGER CONTRACT — unlike every other registered query, calling a q_sink_*
function EXECUTES work (writes a sink, drains a stream, collects the
aggregate) rather than returning a lazy plan. Explain / bench tooling
must not call these for plan inspection — they are excluded from
bench.py's headline set for exactly this reason; the
DataFrame they return is a small materialized result re-wrapped for the
driver compare.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tfm_taxitrips_spark.functions.aggregates import dsum, dsum_sql
from tfm_taxitrips_spark.session import ephemeral_scratch_dir, plan_size_bytes
from tfm_taxitrips_spark.queries.registry import QuerySpec
from tfm_taxitrips_spark.sinks.writers import (
    write_parquet_stream,
    write_single_csv,
    write_table,
)
from tfm_taxitrips_spark.sources.readers import table


def _materialize(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Pin a small result before its backing files are removed. The
    results here are aggregate-sized by construction (≤ tens of rows), so
    localizing them IS the serving read, not a driver-side loop."""
    return spark.createDataFrame(df.collect(), df.schema)


PRUNE_PRIORITY = "1-URGENT"


def q_sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 — partitioned batch parquet sink, proven by its read side:
    orders written ``partitionBy(o_orderpriority)``, read back with a
    partition predicate (the scan must PRUNE to one directory — pinned by
    tests/test_plans.py), then aggregated. At 100 TB the partition column
    IS the serving contract: a dashboard filter on priority touches
    1/|priorities| of the files, which is exactly what this query
    round-trips."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    # dataset-sized scratch: gate the tmpfs preference on free space vs
    # the frame's optimizer size (r19, ADVICE r18 — a 64 MB /dev/shm
    # must degrade to disk, not ENOSPC the query)
    base = ephemeral_scratch_dir("tfm_sink_k1_",
                                 expect_bytes=plan_size_bytes(orders))
    try:
        write_table(
            orders, f"{base}/orders", partition_by=("o_orderpriority",)
        )
        back = spark.read.parquet(f"{base}/orders").where(
            F.col("o_orderpriority") == PRUNE_PRIORITY
        )
        agg = back.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        return _materialize(spark, agg)
    finally:
        shutil.rmtree(base, ignore_errors=True)


_K1_SQL = f"""
SELECT o_orderstatus, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS total_price
FROM orders WHERE o_orderpriority = '{PRUNE_PRIORITY}'
GROUP BY 1
"""


def q_sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 — single-file CSV sink round-trip. The doubles survive exactly:
    Spark writes Java's shortest-round-trippable decimal form and the
    explicit-schema read parses it back to the identical bits (no
    inference pass — schema discipline per sources.readers.read_table)."""
    base = ephemeral_scratch_dir("tfm_sink_k5_")
    try:
        agg = (
            table(spark, sf_dir, "orders")
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                dsum("o_totalprice").alias("total_price"),
            )
        )
        write_single_csv(agg, f"{base}/out")
        back = spark.read.csv(
            f"{base}/out",
            schema="o_orderstatus string, n_orders bigint, total_price double",
            header=True,
        )
        return _materialize(spark, back)
    finally:
        shutil.rmtree(base, ignore_errors=True)


_K5_SQL = f"""
SELECT o_orderstatus, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS total_price
FROM orders GROUP BY 1
"""


def q_sink_stream_parquet_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """K2 — streaming parquet sink: the bronze-ingest shape (map-only
    enrichment, time-partitioned append, availableNow drain), proven by
    reading the sunk files back and aggregating. Deliberately NOT a
    watermarked aggregate: append-mode window aggs can hold final windows
    in state past an availableNow drain, so the durable-sink contract is
    raw-with-derived-partitions, and rollups happen on read (or in the
    update-mode serving path, stream_topk)."""
    import tempfile

    from tfm_taxitrips_spark.streaming.pipeline import read_events_stream

    # r19 (ADVICE r18): the parquet SINK itself goes back to the REAL
    # filesystem — the durable write + read-back is what this query
    # proves, and the r18 scratch routing had quietly diluted that
    # contract to a tmpfs round-trip. Only the one-shot drain CHECKPOINT
    # (written, never re-read, deleted in-call) stays on RAM scratch.
    base = tempfile.mkdtemp(prefix="tfm_sink_k2_")
    chk = ephemeral_scratch_dir("tfm_chk_")
    try:
        stream = read_events_stream(spark, sf_dir)
        enriched = stream.withColumn("year", F.year("ts")).withColumn(
            "month", F.month("ts")
        )
        q = write_parquet_stream(
            enriched,
            f"{base}/events",
            chk,
            partition_by=("year", "month"),
            available_now=True,
        )
        q.awaitTermination()
        back = spark.read.parquet(f"{base}/events")
        agg = back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        return _materialize(spark, agg)
    finally:
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


_K2_SQL = f"""
SELECT event_type, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
FROM events GROUP BY 1
"""


#: (label, format, write options) — labels are the oracle's join key.
#: Compression variants are first-class rows: codec choice is a real
#: 100 TB decision (zstd ~30% smaller than snappy at similar scan cost)
#: and a codec that corrupted data would hash-fail here. Avro is absent
#: by design: it is an EXTERNAL Spark module (spark-avro jar) that cannot
#: be deployed in this environment — gate, don't fake.
_MATRIX_FORMATS = (
    ("parquet", "parquet", {}),
    ("parquet-zstd", "parquet", {"compression": "zstd"}),
    ("orc", "orc", {}),
    ("json", "json", {}),
    ("csv", "csv", {"header": "true"}),
)


def q_sink_format_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The format-agnostic seam (write_table / read_table) proven across
    its WHOLE matrix in one query: nation written and read back through
    parquet (snappy + zstd), orc, json, and csv, each round-trip reduced
    to (n_rows, bit_xor row fingerprint). Every row must carry the SAME
    fingerprint — and the oracle recomputes it from the source table per
    format label, so any format/codec that drops, mangles, or retypes a
    row hash-fails. Text formats read with an explicit schema (no
    inference pass, per the schema discipline at
    sources.readers.read_table)."""
    from tfm_taxitrips_spark.functions.text import hash60
    from tfm_taxitrips_spark.sources.readers import read_table

    base = ephemeral_scratch_dir("tfm_sink_matrix_")
    try:
        nation = table(spark, sf_dir, "nation")
        schema = "n_nationkey int, n_name string, n_regionkey int"
        out = None
        for label, fmt, opts in _MATRIX_FORMATS:
            path = f"{base}/{label}"
            write_table(nation.select("n_nationkey", "n_name", "n_regionkey"),
                        path, fmt=fmt, **opts)
            back = read_table(
                spark, path, fmt=fmt,
                schema=None if fmt in ("parquet", "orc") else schema,
                **({"header": "true"} if fmt == "csv" else {}),
            )
            repr_ = F.concat_ws(
                "|",
                F.col("n_nationkey").cast("string"),
                F.col("n_name"),
                F.col("n_regionkey").cast("string"),
            )
            agg = back.agg(
                F.lit(label).alias("fmt"),
                F.count(F.lit(1)).alias("n_rows"),
                F.bit_xor(hash60(repr_)).alias("fingerprint"),
            )
            out = agg if out is None else out.unionByName(agg)
        return _materialize(spark, out)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _matrix_sql() -> str:
    from tfm_taxitrips_spark.functions.text import hash60_sql

    h = hash60_sql(
        "concat_ws('|', CAST(n_nationkey AS VARCHAR), n_name, "
        "CAST(n_regionkey AS VARCHAR))"
    )
    parts = [
        f"SELECT '{label}' AS fmt, COUNT(*) AS n_rows, bit_xor({h}) AS fingerprint FROM nation"
        for label, _, _ in _MATRIX_FORMATS
    ]
    return "\nUNION ALL\n".join(parts)


COMPACT_MAX_RECORDS = 7  # artificially tiny => a guaranteed small-files mess


def q_sink_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — THE steady-state ops task of a streaming
    lakehouse (the reference batches 15-minute triggers for exactly this
    reason, StreamingTaxiTrips.py:156-163): a fragmented write
    (``maxRecordsPerFile={COMPACT_MAX_RECORDS}`` simulating many tiny
    micro-batch outputs) is compacted by clustering rows to their
    partition key BEFORE the partitioned rewrite, collapsing each
    source's fragments to ONE file.

    Both file populations are counted from the actual directory listing,
    and the oracle predicts them exactly from the data: fragmented =
    Σ ceil(docs_per_source / {COMPACT_MAX_RECORDS}), compacted =
    |sources| (repartition("source") maps each source to exactly one
    task, so partitionBy emits one file per source). Row parity across
    the rewrite rides the same count. At 100 TB the pattern is identical
    with a byte-size target instead of one-file-per-partition:
    cluster-by-key, rewrite, swap.

    r18 (guide §2.5/§6): the FRAGMENTED write is also source-clustered,
    with an explicit partition count (REPARTITION_BY_NUM, exempt from
    AQE coalescing). Before, the write inherited the scan's task layout
    — one task for a single-file fixture — so ALL ~n/{COMPACT_MAX_RECORDS}
    tiny files were written and committed sequentially by one core; and
    had the fixture ever shipped as multiple files, a source split
    across scan tasks would have broken the oracle's per-source ceil
    formula. Clustering by source makes the formula hold by
    construction AND spreads the file creation across the cluster.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    # dataset-sized scratch → free-space-gated tmpfs (r19, ADVICE r18)
    _hint = plan_size_bytes(docs)
    frag = ephemeral_scratch_dir("tfm_sink_frag_", expect_bytes=_hint)
    comp = ephemeral_scratch_dir("tfm_sink_comp_", expect_bytes=_hint)
    try:
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        (
            docs.repartition(n_shuffle, "source")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", COMPACT_MAX_RECORDS)
            .partitionBy("source")
            .parquet(frag)
        )
        n_frag = _count_parquet_files(frag)
        (
            spark.read.parquet(frag)
            .repartition("source")
            .write.mode("overwrite")
            .partitionBy("source")
            .parquet(comp)
        )
        n_comp = _count_parquet_files(comp)
        back = spark.read.parquet(comp)
        # a NULL source IS a real partition (__HIVE_DEFAULT_PARTITION__
        # directory, one compacted file) — count it as one bucket.
        # count_distinct alone skips NULLs, silently under-reporting the
        # partition population the rewrite itself just wrote (r12,
        # registry-wide NULL-probe sweep; the oracle's GROUP BY had the
        # NULL group all along).
        result = back.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (
                F.count_distinct("source")
                + F.coalesce(
                    F.max(F.when(F.col("source").isNull(), F.lit(1))),
                    F.lit(0))
            ).cast("bigint").alias("n_sources"),
            F.sum("n_chars").cast("bigint").alias("char_checksum"),
        ).select(
            F.lit(n_frag).cast("bigint").alias("n_files_fragmented"),
            F.lit(n_comp).cast("bigint").alias("n_files_compacted"),
            "n_rows",
            "n_sources",
            "char_checksum",
        )
        return _materialize(spark, result)
    finally:
        shutil.rmtree(frag, ignore_errors=True)
        shutil.rmtree(comp, ignore_errors=True)


def _count_parquet_files(base: str) -> int:
    import os

    return sum(
        1
        for root, _dirs, files in os.walk(base)
        for f in files
        if f.endswith(".parquet")
    )


_COMPACT_SQL = f"""
WITH per_source AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY 1
)
SELECT CAST(SUM((n + {COMPACT_MAX_RECORDS - 1}) // {COMPACT_MAX_RECORDS})
            AS BIGINT) AS n_files_fragmented,
       CAST(COUNT(*) AS BIGINT) AS n_files_compacted,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_sources,
       (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents)
         AS char_checksum
FROM per_source
"""


QUERIES: dict[str, QuerySpec] = {
    "sink_compaction_roundtrip": QuerySpec(
        q_sink_compaction_roundtrip, _COMPACT_SQL,
        tags=("sink", "K1", "compaction")),
    "sink_format_matrix": QuerySpec(
        q_sink_format_matrix, _matrix_sql(), tags=("sink", "formats")
    ),
    "sink_partitioned_roundtrip": QuerySpec(
        q_sink_partitioned_roundtrip, _K1_SQL, tags=("sink", "K1")
    ),
    "sink_csv_roundtrip": QuerySpec(
        q_sink_csv_roundtrip, _K5_SQL, tags=("sink", "K5")
    ),
    "sink_stream_parquet_roundtrip": QuerySpec(
        q_sink_stream_parquet_roundtrip, _K2_SQL, tags=("sink", "K2", "stream")
    ),
}
