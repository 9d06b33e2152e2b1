"""The driver JVM's class-data archive: which archive a launch maps or
records, and that every path it cannot prove safe launches without one.

All but the last test build a fake Spark home and Java home and start no
JVM; the last records an archive in a child process and maps it in a
second one.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

from mbta_etl_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def env(tmp_path):
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"x" * 10)
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# x\n")
    java_home = tmp_path / "java"
    (java_home / "bin").mkdir(parents=True)
    (java_home / "bin" / "java").write_text("")
    (java_home / "release").write_text('JAVA_VERSION="17.0.20"\n')
    return {"SPARK_HOME": str(spark_home), "JAVA_HOME": str(java_home)}


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def _publish(archive, data: bytes, cache) -> str:
    """Stand in for a recording JVM that wrote ``data`` and exited 0."""
    with open(archive.path, "wb") as f:
        f.write(data)
    session.keep_recording(types.SimpleNamespace(poll=lambda: 0, returncode=0),
                           archive.path, archive.key)
    (name,) = [n for n in os.listdir(cache) if n.endswith(".jsa")]
    return os.path.join(cache, name)


def test_records_then_maps_the_published_archive(env, tmp_path):
    cache = tmp_path / "cache"
    first = session.class_archive(str(cache), env, "8g")
    assert first.recording
    assert first.java_options.startswith(f"-XX:ArchiveClassesAtExit={first.path} ")
    # the conf dir holds only templates, so the launch gets an empty one
    assert first.conf_dir == str(cache / "conf") and not os.listdir(first.conf_dir)
    final = _publish(first, b"a" * 100, cache)
    assert os.path.basename(final) == f"{first.key}-100.jsa"
    second = session.class_archive(str(cache), env, "8g")
    assert not second.recording and second.path == final
    assert second.java_options.startswith(f"-XX:SharedArchiveFile={final} ")


def test_truncated_archive_is_never_mapped(env, tmp_path):
    cache = tmp_path / "cache"
    final = _publish(session.class_archive(str(cache), env, "8g"), b"a" * 100, cache)
    with open(final, "r+b") as f:
        f.truncate(60)
    again = session.class_archive(str(cache), env, "8g")
    assert again.recording and final not in again.java_options
    assert not os.path.exists(final)


def test_unclean_recording_is_dropped(env, tmp_path):
    cache = tmp_path / "cache"
    archive = session.class_archive(str(cache), env, "8g")
    with open(archive.path, "wb") as f:
        f.write(b"half")
    session.keep_recording(types.SimpleNamespace(poll=lambda: 1, returncode=1),
                           archive.path, archive.key)
    assert os.listdir(cache) == ["conf"]


def test_half_written_archive_is_invisible_to_another_process(env, tmp_path):
    cache = tmp_path / "cache"
    first = session.class_archive(str(cache), env, "8g")
    with open(first.path, "wb") as f:
        f.write(b"half")  # its JVM is still writing
    second = session.class_archive(str(cache), env, "8g")
    assert second.recording and second.path != first.path
    assert first.path not in second.java_options
    assert os.path.exists(first.path)  # its process is alive
    orphan = cache / f"{first.key}.{_dead_pid()}.abc.tmp"
    orphan.write_bytes(b"half")
    session.class_archive(str(cache), env, "8g")
    assert not orphan.exists()


def test_real_conf_file_means_no_archive(env, tmp_path):
    (tmp_path / "spark" / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    before = dict(env)
    assert session.class_archive(str(tmp_path / "cache"), env, "8g") is None
    assert env == before and "SPARK_CONF_DIR" not in env
    own = tmp_path / "own-conf"
    own.mkdir()
    (own / "log4j2.properties").write_text("")
    own_env = {**env, "SPARK_CONF_DIR": str(own)}
    assert session.class_archive(str(tmp_path / "c2"), own_env, "8g") is None


def test_empty_conf_dir_is_kept(env, tmp_path):
    own = tmp_path / "own-conf"
    own.mkdir()
    own_env = {**env, "SPARK_CONF_DIR": str(own)}
    archive = session.class_archive(str(tmp_path / "cache"), own_env, "8g")
    assert archive.recording and archive.conf_dir is None


def test_unwritable_cache_means_no_archive(env, tmp_path):
    blocker = tmp_path / "file"
    blocker.write_text("")
    assert session.class_archive(str(blocker / "cache"), env, "8g") is None


def test_unkeyed_classpath_means_no_archive(env, tmp_path):
    hadoop = {**env, "HADOOP_CONF_DIR": "/etc/hadoop"}
    assert session.class_archive(str(tmp_path / "cache"), hadoop, "8g") is None


def test_key_covers_jars_java_home_and_heap(env, tmp_path):
    cache = str(tmp_path / "cache")

    def key(e=env, memory="8g"):
        return session.class_archive(cache, e, memory).key

    base = key()
    assert key() == base
    assert key(memory="4g") != base
    other_java = tmp_path / "java2"
    (other_java / "bin").mkdir(parents=True)
    (other_java / "bin" / "java").write_text("")
    (other_java / "release").write_text('JAVA_VERSION="17.0.20"\n')
    moved = key({**env, "JAVA_HOME": str(other_java)})
    assert moved != base
    (other_java / "release").write_text('JAVA_VERSION="17.0.21"\n')
    assert key({**env, "JAVA_HOME": str(other_java)}) != moved
    jars = tmp_path / "spark" / "jars"
    (jars / "extra.jar").write_bytes(b"y")
    with_extra = key()
    assert with_extra != base
    (jars / "extra.jar").write_bytes(b"yy")
    assert key() != with_extra


def test_archives_under_other_keys_are_deleted(env, tmp_path):
    cache = tmp_path / "cache"
    old = _publish(session.class_archive(str(cache), env, "8g"), b"a" * 100, cache)
    session.class_archive(str(cache), env, "4g")
    assert not os.path.exists(old)


_CHILD = """
import json, sys
from mbta_etl_spark import session
session.CACHE = sys.argv[1]
spark = session.get_spark("cds-test")
jvm = spark._jvm
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
pid = spark.sparkContext._gateway.proc.pid
with open(f"/proc/{pid}/maps") as f:
    maps = f.read()
print(json.dumps({
    "shared": bean.getVMOption("UseSharedSpaces").getValue(),
    "mapped": sys.argv[1] in maps,
    "sum": spark.range(10).selectExpr("sum(id)").first()[0],
}))
spark.stop()
"""


def test_recorded_archive_maps_in_the_next_jvm(tmp_path):
    """Record, then map; then a corrupt archive of the recorded size
    still gives a working session, and is deleted."""
    cache = os.path.realpath(tmp_path / "cache")
    run_env = {**os.environ, "SPARK_GRAFT_CPUS": "1", "SPARK_GRAFT_DRIVER_MEM": "1g",
               "SPARK_GRAFT_LOCAL_DIR": str(tmp_path / "local")}

    def child():
        out = subprocess.run([sys.executable, "-c", _CHILD, cache], cwd=REPO,
                             env=run_env, capture_output=True, text=True, timeout=600)
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(out.stdout.strip().splitlines()[-1])

    def archives():
        return [n for n in os.listdir(cache) if n.endswith(".jsa")]

    try:
        recorded = child()
        assert recorded["sum"] == 45 and not recorded["mapped"]
        (archive,) = archives()
        assert child() == {"shared": "true", "mapped": True, "sum": 45}
        assert archives() == [archive]
        path = os.path.join(cache, archive)
        os.chmod(path, 0o644)
        with open(path, "r+b") as f:
            f.write(os.urandom(4096))
        corrupt = child()
        assert corrupt["sum"] == 45 and not corrupt["mapped"]
        assert archives() == []
    finally:
        shutil.rmtree(cache, ignore_errors=True)
