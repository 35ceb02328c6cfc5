"""Class-data sharing for the driver JVM (``session._class_data_sharing``).

Each case launches fresh driver JVMs in subprocesses: this process
already owns a gateway, so ``get_spark`` here launches no JVM. Every
subprocess points ``session.CDS_DIR`` at the test's own cache directory.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time

from pyspark.find_spark_home import _find_spark_home

from tfm_taxitrips_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# argv: cache dir, extra_conf as JSON, a file to plant at the published
# archive name ("" for none). Prints one JSON line, then leaves the JVM to
# exit on its own when this process ends, as a finished script does.
BUILD = """
import json, os, shutil, sys
sys.path.insert(0, {root!r})
from tfm_taxitrips_spark import session
session.CDS_DIR, extra, plant = sys.argv[1], json.loads(sys.argv[2]), sys.argv[3]
key = session._cds_key(extra)
if plant:
    shutil.copy(plant, os.path.join(session.CDS_DIR, key + ".jsa"))
spark = session.get_spark(app_name="cds-test", master="local[1]",
                          shuffle_partitions=1, extra_conf=extra)
from pyspark import SparkContext
with open(f"/proc/{{SparkContext._gateway.proc.pid}}/cmdline") as f:
    cmdline = f.read().split("\\0")
print(json.dumps({{
    "key": key,
    "cmdline": cmdline,
    "sum": spark.range(10).selectExpr("sum(id)").collect()[0][0],
    "marker": spark.conf.get("spark.graft.marker", None),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
}}))
""".format(root=ROOT)


def _env(**extra: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if k not in (
        "SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS", *session._CLASS_PATH_ENV)}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env.update(extra)
    return env


def _start(cache: str, extra_conf: dict | None = None, plant: str = "", **env: str):
    """Start building a session in a fresh process and JVM."""
    return subprocess.Popen(
        [sys.executable, "-c", BUILD, cache, json.dumps(extra_conf or {}), plant],
        env=_env(**env), stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def _result(p: subprocess.Popen) -> dict:
    """The JSON line a build printed."""
    out, err = p.communicate(timeout=180)
    assert p.returncode == 0, err[-3000:]
    # cds logging goes to the cache's log file, never to the caller
    assert "[cds" not in out + err
    return json.loads(out.strip().splitlines()[-1])


def _build(cache: str, extra_conf: dict | None = None, plant: str = "", **env: str) -> dict:
    return _result(_start(cache, extra_conf, plant, **env))


def _cds_flags(out: dict) -> list[str]:
    return [a for a in out["cmdline"] if "SharedArchiveFile" in a or "ArchiveClassesAtExit" in a
            or "-Xlog:cds" in a]


def _wait_for_recorder(cache: str) -> None:
    """Wait until the recording JVM named in the lock has exited."""
    (lock,) = glob.glob(os.path.join(cache, "*.jsa.lock"))
    with open(lock) as f:
        pid = int(f.read().split()[0])
    deadline = time.monotonic() + 120
    while session._running(pid):
        assert time.monotonic() < deadline, "the recording JVM did not exit"
        time.sleep(0.5)


def test_missing_archive_records_then_maps_and_keeps_caller_options(tmp_path):
    cache = str(tmp_path / "cds")
    first = _build(cache)
    assert first["sum"] == 45
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in first["cmdline"])
    assert first["conf_dir"] is None  # SPARK_CONF_DIR was set for the launch only
    assert not os.path.exists(os.path.join(cache, first["key"] + ".jsa"))
    _wait_for_recorder(cache)  # it records as it exits, after its Python process

    load_log = tmp_path / "load.log"
    caller = f"-Dgraft.caller=1 -Xlog:class+load=info:file={load_log}"
    second = _build(cache, {"spark.driver.extraJavaOptions": caller})
    assert second["sum"] == 45 and second["key"] == first["key"]
    archive = os.path.join(cache, first["key"] + ".jsa")
    assert f"-XX:SharedArchiveFile={archive}" in second["cmdline"]
    assert "-Dgraft.caller=1" in second["cmdline"]
    assert not glob.glob(os.path.join(cache, "*.lock")) and not glob.glob(archive + ".*")
    mapped = [line for line in load_log.read_text().splitlines()
              if "org.apache.spark." in line and "source: shared objects file (top)" in line]
    assert mapped, "no Spark class was mapped from the dynamic archive"


def test_unusable_archive_builds_as_without_one(tmp_path):
    plants = {"junk": b"", "junk_with_magic": session._DYNAMIC_ARCHIVE_MAGIC}
    for kind, head in plants.items():
        with open(tmp_path / kind, "wb") as f:
            f.write(head + os.urandom(1 << 16))
    (launcher,) = glob.glob(os.path.join(_find_spark_home(), "jars", "spark-launcher*.jar"))
    # exits at once with a usage error, writing a small archive as it goes
    subprocess.run(["java", f"-XX:ArchiveClassesAtExit={tmp_path / 'other_class_path'}", "-cp",
                    launcher, "org.apache.spark.launcher.Main"], capture_output=True, timeout=60)
    assert session._is_archive(str(tmp_path / "other_class_path"))
    builds = {kind: _start(str(tmp_path / f"cds-{kind}"), plant=str(tmp_path / kind))
              for kind in (*plants, "other_class_path")}
    for kind, p in builds.items():
        out = _result(p)
        assert out["sum"] == 45
        # junk without the archive's magic is never handed to the JVM; the
        # others are, and the JVM warns into the log file and runs without it
        assert bool(_cds_flags(out)) == (kind != "junk"), kind
        assert os.path.exists(tmp_path / f"cds-{kind}" / (out["key"] + ".jsa"))


def test_real_config_dir_gets_no_cds(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.marker  from-defaults\n")
    cache = str(tmp_path / "cds")
    out = _build(cache, SPARK_CONF_DIR=str(conf))
    assert out["key"] is None and _cds_flags(out) == []
    assert out["marker"] == "from-defaults"
    assert out["conf_dir"] == str(conf)
    assert not os.path.exists(cache) or not glob.glob(os.path.join(cache, "*.jsa*"))


def test_publish_waits_for_the_recorder_and_drops_a_cut_recording(tmp_path):
    archive = str(tmp_path / "k.jsa")
    recording = archive + ".1"
    with open(recording, "wb") as f:
        f.write(session._DYNAMIC_ARCHIVE_MAGIC + b"\0" * 64)
    session._claim(archive + ".lock", os.getpid(), recording)
    session._publish(archive)  # the recorder (this process) still runs
    assert not os.path.exists(archive) and os.path.exists(recording)

    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait(timeout=60)
    session._claim(archive + ".lock", child.pid, recording)
    session._publish(archive)
    assert os.path.exists(archive) and not os.path.exists(recording)
    assert not os.path.exists(archive + ".lock")

    cut = archive + ".2"  # the header is written last: a cut recording has none
    with open(cut, "wb") as f:
        f.write(b"\0" * 64)
    session._claim(archive + ".lock", child.pid, cut)
    shutil.copy(archive, str(tmp_path / "before"))
    session._publish(archive)
    assert not os.path.exists(cut) and not os.path.exists(archive + ".lock")
    with open(archive, "rb") as a, open(str(tmp_path / "before"), "rb") as b:
        assert a.read() == b.read()  # the published archive was left alone
