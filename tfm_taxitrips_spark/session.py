"""SparkSession factory.

The reference creates bare sessions per script
(``/root/reference/TransformTaxiTrips.py:31-34``,
``/root/reference/StreamingTaxiTrips.py:11-16``) and leaves every knob at its
default. Here the session is built once with the settings that matter at
100 TB scale:

- **AQE on** (coalesce post-shuffle partitions, skew-join splitting): the
  reference's fixed 200 shuffle partitions are wrong at both ends of the
  scale spectrum; AQE re-plans from runtime statistics.
- **UTC session timezone**: deterministic timestamp semantics regardless of
  host zone (required for oracle parity and for cross-cluster correctness).
- **Arrow transfers on**: any pandas interchange (Pandas UDFs, toPandas)
  goes through Arrow batches, not pickled rows.
- **shuffle.partitions sized from the env** (``SPARK_GRAFT_CPUS``): on the
  test harness this is the core count; on a real cluster you would size it
  to ~2-3× total executor cores and let AQE coalesce down.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def ephemeral_scratch_dir(prefix: str, expect_bytes: int | None = None) -> str:
    """Scratch directory for CALL-SCOPED throwaway data, preferring
    RAM-backed storage (r18, guide §1.2 'per-task work' applied to the
    IO path): one-shot drain checkpoints and eager-contract audit
    datasets are written, read once, and deleted before the call
    returns — durability buys nothing, so tmpfs removes the fsync and
    page-cache-writeback cost from the timed path. Callers MUST delete
    the directory themselves (they already do — it is call-scoped).

    The candidate directory is ``$SPARK_GRAFT_CHK_SCRATCH`` (e.g. a fast
    local disk when /dev/shm is small) or else ``/dev/shm``, and it is
    GATED on free space: Docker's default /dev/shm is 64 MB, and an
    ungated dataset-sized write there would ENOSPC a query that succeeds
    on disk. Callers writing dataset-sized scratch pass ``expect_bytes``
    (typically the optimizer's ``sizeInBytes`` of the frame being
    written — an uncompressed over-estimate, the safe direction); the
    candidate is used only when its free space covers 2× that hint.
    Without a hint the floor is 256 MiB — plenty for the checkpoint/WAL
    dirs that are the default use. A missing or too-small candidate
    falls back to the system tempdir. Durable outputs (``sinks.writers``)
    never come here — they take caller-provided locations."""
    base = os.environ.get("SPARK_GRAFT_CHK_SCRATCH", "/dev/shm")
    need = 2 * expect_bytes if expect_bytes else 256 << 20
    try:
        st = os.statvfs(base)
        if st.f_bavail * st.f_frsize < need:
            base = None
    except OSError:
        base = None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def plan_size_bytes(df) -> int:
    """Optimizer-statistics size of a DataFrame (driver-only, no job) —
    the ``expect_bytes`` hint for dataset-sized scratch. Uncompressed
    estimate, so it over-states what a parquet write needs (the safe
    direction for a free-space gate)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def get_spark(
    app_name: str = "tfm-taxitrips-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    On a cluster, ``master`` comes from spark-submit; locally it defaults to
    ``local[$SPARK_GRAFT_CPUS]``.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{default_parallelism()}]")
    if shuffle_partitions is None:
        shuffle_partitions = default_parallelism()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- determinism ----------------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # -- adaptive execution ---------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- shuffle sizing -------------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # -- python interchange ---------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # -- scan sizing: 128 MB splits keep 100 TB scans at ~800k tasks ----
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # quieter local runs
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
