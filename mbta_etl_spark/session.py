"""SparkSession factory.

Local harness runs ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``), but
every config here is chosen as it would be on a 1000-executor cluster:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic broadcast conversion) so plans self-tune at any scale factor.
- ``spark.sql.shuffle.partitions`` modest for local testing; AQE coalesces
  it down, and on a real cluster this would be sized to ~2-3x total cores.
- Arrow enabled for any Pandas-UDF path (batched columnar transfer instead
  of row pickling).
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle (naive timestamps).

A session that launches the driver JVM launches it with a class-data
archive (JDK dynamic AppCDS): the first launch records the Spark, Arrow
and Parquet classes it loads into ``.jvm_cache/`` at the checkout root
when the JVM exits, and later launches map them instead of loading and
verifying them again. A missing, stale or unusable archive only costs
the speed-up.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import shutil
import subprocess
import tempfile
from collections.abc import Mapping
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

CACHE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.realpath(__file__))), ".jvm_cache"
)

# anything else that reaches the launch classpath, or a JVM we do not launch
_UNKEYED_ENV = (
    "PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS", "SPARK_DIST_CLASSPATH",
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_PREPEND_CLASSES", "SPARK_TESTING",
)


def get_spark(app_name: str = "mbta_etl_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # by default AQE may not change the output partitioning of cached
        # plans, so a persisted shuffle keeps shuffle.partitions-many tiny
        # partitions and every downstream Arrow kernel pays a per-task
        # Python round-trip. Allowing it lets cached intermediates (the
        # dedup family's shingle/survivor tables) coalesce to data-sized
        # partitions — measured ~25% off the corpus-clean pipeline.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", memory)
        .config("spark.ui.enabled", "false")
    )
    # Shuffle/spill files go to spark.local.dir. On a real cluster that is
    # executor-local NVMe; here the sandbox's disk writes at ~30 MB/s
    # (measured), which both throttles every shuffle-heavy query and adds
    # writeback-stall jitter. A tmpfs local dir is the faithful local
    # stand-in for cluster-local scratch (shuffle data at bench SF is MBs
    # against 126 G of tmpfs). Fallback: Spark's default (/tmp).
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark_graft_local")
    try:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    except OSError:
        pass
    archive = None
    if SparkContext._gateway is None:  # this call launches the driver JVM
        archive = class_archive(CACHE, os.environ, memory)
    if archive is None:
        return builder.getOrCreate()
    if archive.conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = archive.conf_dir
    try:
        spark = builder.config(
            "spark.driver.extraJavaOptions", archive.java_options
        ).getOrCreate()
    except Exception:
        spark = None
    finally:
        if archive.conf_dir is not None:
            del os.environ["SPARK_CONF_DIR"]
    if spark is None:
        # fail open: whatever the archive did to the launch, launch without
        _remove(archive.path)
        return builder.config("spark.driver.extraJavaOptions", "").getOrCreate()
    proc = spark.sparkContext._gateway.proc
    if archive.recording:
        atexit.register(keep_recording, proc, archive.path, archive.key)
    elif not _mapped(spark, proc.pid, archive.path):
        _remove(archive.path)
    return spark


@dataclass(frozen=True)
class Archive:
    """How to launch the driver JVM with a class-data archive."""

    key: str  # names what the JVM checks the archive against
    path: str  # the archive to map, or the temp file the JVM records into
    recording: bool
    conf_dir: str | None  # SPARK_CONF_DIR to launch with, if it must change
    java_options: str  # spark.driver.extraJavaOptions for the launch


def class_archive(cache: str, env: Mapping[str, str], memory: str) -> Archive | None:
    """The archive to launch a driver JVM with, or None for a plain launch.

    Maps ``<key>-<bytes>.jsa`` in ``cache`` when its size is the one the
    recording JVM left at its clean exit (a truncated archive crashes the
    JVM with SIGBUS); otherwise records into a temp file of this process,
    which ``keep_recording`` renames only after that JVM exits cleanly.
    The key covers what the JVM checks: ``java.home`` and its ``release``
    file, the launch classpath (conf dir, then every jar's name, size and
    mtime in listing order, which is how ``java`` expands ``jars/*``) and
    the heap size. The JVM refuses to record with a non-empty directory
    on the classpath, so a conf dir holding only ``*.template`` files
    (which Spark never reads) is swapped for an empty one in ``cache``;
    a conf dir with real files, or a classpath this cannot key, gets no
    archive. Archives under other keys and temp files of dead processes
    are deleted.
    """
    if any(env.get(name) for name in _UNKEYED_ENV):
        return None
    if any(c.isspace() or c in "\"'\\" for c in cache):
        return None  # extraJavaOptions splits on whitespace
    spark_home = env.get("SPARK_HOME") or _find_spark_home()
    java = (os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME")
            else shutil.which("java", path=env.get("PATH")))
    if java is None:
        return None
    java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    swap = None
    quiet = " -Xlog:cds*=off"  # the JVM's CDS warnings go to stdout
    try:  # any file error, e.g. another process removing one: no archive
        with open(os.path.join(java_home, "release")) as f:
            release = f.read()
        os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
        conf_files = os.listdir(conf_dir)
        if (conf_files and not env.get("SPARK_CONF_DIR")
                and all(name.endswith(".template") for name in conf_files)):
            conf_dir = swap = os.path.join(cache, "conf")
            conf_files = os.listdir(conf_dir)
        if conf_files:
            return None
        jars_dir = os.path.join(spark_home, "jars")
        jars = []
        for name in os.listdir(jars_dir):
            if name.lower().endswith(".jar"):
                st = os.stat(os.path.join(jars_dir, name))
                jars.append([name, st.st_size, st.st_mtime_ns])
        key = hashlib.sha256(json.dumps(
            [java_home, release, os.path.realpath(conf_dir), jars, memory]
        ).encode()).hexdigest()[:20]

        mapped = None
        for name in os.listdir(cache):
            path = os.path.join(cache, name)
            if name.endswith(".jsa"):
                size = name[len(key) + 1:-len(".jsa")]
                if (mapped is None and name.startswith(key + "-") and size.isdigit()
                        and os.path.getsize(path) == int(size)):
                    mapped = path
                else:
                    _remove(path)
            elif name.endswith(".tmp") and not _alive(name.split(".")[1]):
                _remove(path)
        if mapped is not None:
            return Archive(key, mapped, False, swap,
                           f"-XX:SharedArchiveFile={mapped}{quiet}")
        # a name no other process uses, in a dir this one can write
        fd, temp = tempfile.mkstemp(".tmp", f"{key}.{os.getpid()}.", cache)
        os.close(fd)
        os.remove(temp)  # the JVM creates it when it records
    except OSError:
        return None
    return Archive(key, temp, True, swap, f"-XX:ArchiveClassesAtExit={temp}{quiet}")


def keep_recording(proc: subprocess.Popen, temp: str, key: str) -> None:
    """Wait for the recording JVM to exit, then publish its archive as
    ``<key>-<bytes>.jsa`` if it exited cleanly, or drop it."""
    if proc.poll() is None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=600)
        except subprocess.TimeoutExpired:
            return
    try:
        size = os.path.getsize(temp)
        if proc.returncode == 0 and size:
            os.replace(temp, os.path.join(os.path.dirname(temp), f"{key}-{size}.jsa"))
            return
    except OSError:
        pass
    _remove(temp)


def _mapped(spark: SparkSession, pid: int, path: str) -> bool:
    """Whether the JVM mapped the archive at ``path``. The JVM's memory map
    is the exact answer: when only the dynamic archive fails its checks,
    the JDK's base archive still maps and ``UseSharedSpaces`` stays true."""
    try:
        with open(f"/proc/{pid}/maps") as f:
            return any(path in line for line in f)
    except OSError:
        jvm = spark._jvm
        bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
            jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
        )
        return bean.getVMOption("UseSharedSpaces").getValue() == "true"


def _alive(pid: str) -> bool:
    try:
        os.kill(int(pid), 0)
    except (ValueError, ProcessLookupError):
        return False
    except OSError:
        pass
    return True


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to a session we did not create.

    The correctness driver constructs its own SparkSession and hands it to
    ``queries()`` callables; only runtime-mutable confs can be set there.
    Timezone matters most: the oracle (DuckDB) works in naive/UTC
    timestamps, so the session must interpret parquet timestamps the same
    way.
    """
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — harmless, default is fine
    return spark
