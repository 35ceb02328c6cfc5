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
- **Class-data sharing for the driver JVM**: a new driver JVM maps the
  classes of Spark's jars, already parsed and verified, from a JDK 17
  dynamic archive that the first JVM records as it exits (see
  ``_class_data_sharing``).
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# The driver JVM's class-data-sharing cache: per JDK and jar set, one
# published archive (``<key>.jsa``), at most one recording in progress
# (``<key>.jsa.<pid>``, claimed by ``<key>.jsa.lock``), the empty conf
# directory a CDS launch puts on the class path, and the JVMs' cds log.
CDS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cds-cache")
_JAVA_OPTIONS = "spark.driver.extraJavaOptions"
_DYNAMIC_ARCHIVE_MAGIC = (0xF00BABA8).to_bytes(4, "little")
# each of these puts something on the driver's class path that an archive
# cannot vouch for, or that CDS refuses (a non-empty directory)
_CLASS_PATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES")


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
    conf = dict(extra_conf or {})
    with _class_data_sharing(conf):
        for key, value in conf.items():
            builder = builder.config(key, value)
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _cds_key(conf: dict[str, str]) -> str | None:
    """Fingerprint of the JDK and of the jar listing (names, sizes,
    mtimes) a new driver JVM would load, or None when ``getOrCreate``
    launches no JVM or the launch is not CDS-safe: Linux, JDK 17 or later
    with its base archive, a conf dir holding only ``*.template`` files,
    nothing else added to the class path, and a writable cache whose
    conf dir is empty."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if (any(os.environ.get(v) for v in _CLASS_PATH_ENV)
            or "spark.driver.extraClassPath" in conf
            or re.search(r"driver-class-path|extraClassPath", submit_args)
            or re.search(r"Xshare|SharedArchiveFile|ArchiveClassesAtExit", conf.get(_JAVA_OPTIONS, ""))
            # the paths go into space-split java options and -Xlog's ':'-split syntax
            or not re.fullmatch(r"[\w./+-]+", CDS_DIR)):
        return None
    spark_home = _find_spark_home()
    java = (os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME")
            else shutil.which("java"))  # the JVM bin/spark-class runs
    if java is None:
        return None
    jdk = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    jars = os.path.join(spark_home, "jars")
    try:
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if not all(name.endswith(".template") for name in os.listdir(conf_dir)):
            return None
        with open(os.path.join(jdk, "release")) as f:
            version = re.search(r'^JAVA_VERSION="(\d+)', f.read(), re.M)
        if version is None or int(version.group(1)) < 17:
            return None
        os.makedirs(os.path.join(CDS_DIR, "conf"), exist_ok=True)
        if os.listdir(os.path.join(CDS_DIR, "conf")) or not os.access(CDS_DIR, os.W_OK):
            return None
        digest = hashlib.sha256()
        for path in [os.path.join(jdk, "lib", "server", name) for name in ("libjvm.so", "classes.jsa")] + [
                os.path.join(jars, name) for name in sorted(os.listdir(jars))]:
            st = os.stat(path)
            digest.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    except OSError:
        return None
    return digest.hexdigest()[:16]


def _is_archive(path: str) -> bool:
    """Whether ``path`` starts like a dynamic CDS archive. The JVM writes
    the header last, so a recording cut short does not."""
    try:
        with open(path, "rb") as f:
            return f.read(4) == _DYNAMIC_ARCHIVE_MAGIC
    except OSError:
        return False


def _running(pid: int) -> bool:
    """Whether process ``pid`` still runs; a zombie has finished."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _publish(archive: str) -> None:
    """Once the recording JVM named in ``archive``'s lock has exited,
    move its archive to ``archive`` with one atomic rename, or drop it
    when it was cut short, and release the lock. A JVM handed a partly
    written archive dies of SIGBUS while mapping it."""
    lock = archive + ".lock"
    try:
        with open(lock) as f:
            pid, recording = f.read().split()
        if _running(int(pid)):
            return
    except (OSError, ValueError):  # no recorder, or its lock is being written
        return
    if _is_archive(recording):
        os.replace(recording, archive)
    else:
        with contextlib.suppress(FileNotFoundError):
            os.remove(recording)
    with contextlib.suppress(FileNotFoundError):
        os.remove(lock)


def _claim(lock: str, pid: int, recording: str) -> None:
    """Write ``lock``'s content in one rename, so a reader sees it whole."""
    with open(f"{lock}.{os.getpid()}", "w") as f:
        f.write(f"{pid} {recording}")
    os.replace(f.name, lock)


@contextlib.contextmanager
def _class_data_sharing(conf: dict[str, str]):
    """Launch a new driver JVM with JDK 17's dynamic class-data sharing.

    With a published archive for this JDK and jar set, the JVM maps it
    (``-XX:SharedArchiveFile``). Without one, the JVM records one as it
    exits (``-XX:ArchiveClassesAtExit``) to a private path, claimed by an
    ``O_EXCL`` lock that holds the recording JVM's pid; a later launch
    publishes it once that JVM is gone. The flags are appended to the
    caller's ``spark.driver.extraJavaOptions``, ``cds`` logging goes to a
    file, and for this launch only ``SPARK_CONF_DIR`` is an empty
    directory (CDS refuses a non-empty directory on the class path).

    A launch that is not CDS-safe, a recording in progress or an
    unreadable archive builds the session as without CDS, with no option
    or environment variable added."""
    key = _cds_key(conf)
    if key is None:
        yield
        return
    archive = os.path.join(CDS_DIR, f"{key}.jsa")
    lock = archive + ".lock"
    _publish(archive)
    recording = None
    if os.path.exists(archive):
        if not _is_archive(archive):
            yield
            return
        flag = f"-XX:SharedArchiveFile={archive}"
    else:
        try:
            os.close(os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except FileExistsError:  # another JVM is recording
            yield
            return
        recording = f"{archive}.{os.getpid()}"
        _claim(lock, os.getpid(), recording)
        flag = f"-XX:ArchiveClassesAtExit={recording}"
    conf[_JAVA_OPTIONS] = " ".join(filter(None, (
        conf.get(_JAVA_OPTIONS), flag, f"-Xlog:cds*=off -Xlog:cds*=warning:file={CDS_DIR}/cds.log")))
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(CDS_DIR, "conf")
    try:
        yield
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
        if recording:
            gateway = SparkContext._gateway
            if gateway is None:  # no JVM was launched: nothing will record
                os.remove(lock)
            else:  # the JVM records as it exits, even after a failed build
                _claim(lock, gateway.proc.pid, recording)
