"""SparkSession factory with the engine's performance configuration.

Reference analogue: fluent-bit's engine/config bootstrap
(upstream:src/flb_engine.c, src/flb_config.c) — there the knobs are
chunk sizes and worker threads; here they are AQE, Arrow batching and
shuffle partitioning (SURVEY.md §4.2 physical knobs).
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import re
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Arrow batch sizing: the parse is one arrow_udf, which sends about
# 181 B/row into Python on the tokens path (traced on tokens_bulk), so
# 10k rows/batch ≈ 1.8 MB per Arrow batch across the Python boundary.
ARROW_BATCH_ROWS = 10_000

# Bound on the wait at interpreter exit for the JVM that writes the
# class-data archive (about 12 s for a 180 MB archive on 4 cores).
CDS_DUMP_TIMEOUT_S = 120


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap default: half of the machine's RAM (``MemTotal``), at
    least 1 GB, leaving the rest to the Python workers and the OS. In
    local mode the driver JVM also runs every executor thread. Falls
    back to 4g where ``/proc/meminfo`` is unreadable."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{max(1024, total_mb // 2)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "4g"


def cds_dir() -> str:
    """Where the driver JVM's class-data-sharing archives live:
    ``${XDG_CACHE_HOME:-~/.cache}/fluent_bit_spark/cds``. Deleting it
    forces the next session to build a new archive."""
    cache = (os.environ.get("XDG_CACHE_HOME")
             or os.path.join(os.path.expanduser("~"), ".cache"))
    return os.path.join(cache, "fluent_bit_spark", "cds")


def cds_key(spark_home: str, java_home: str, class_path: str = "") -> str:
    """Archive name for one install: a hash of the JDK's ``release``
    file, ``spark_home``, the name, size and mtime of each Spark jar, and
    the extra ``class_path``. Any change to these gives a new archive."""
    h = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    h.update(f"\0{os.path.realpath(spark_home)}\0{class_path}".encode())
    for jar in sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))):
        st = os.stat(jar)
        h.update(f"\0{os.path.basename(jar)}\0{st.st_size}"
                 f"\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:24]


def _listdir(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except OSError:  # absent, a jar, or a wildcard class-path entry
        return []


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _finish_cds_build(proc: subprocess.Popen, tmp: str, archive: str) -> None:
    """At interpreter exit: end the JVM that writes the archive and wait
    for it (bounded), so no JVM outlives Python, then move a complete
    archive into place. A JVM the caller already stopped is not touched."""
    if proc.poll() is None:
        gw = SparkContext._gateway
        if gw is not None and getattr(gw, "proc", None) is proc:
            gw.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF, dumping the archive
        try:
            proc.wait(timeout=CDS_DUMP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if proc.returncode == 0 and os.path.exists(tmp):
        with open(tmp, "rb") as f:
            os.fsync(f.fileno())
        os.replace(tmp, archive)
    else:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)


def _cds_plan(conf: dict[str, str]) -> tuple[str, str, str | None] | None:
    """The archive the next driver JVM launch should use, as (archive,
    empty conf dir, temporary dump path or None when the archive exists
    already), or None where no archive applies: a JVM already runs, a
    real file (``spark-defaults.conf``, ``log4j2.properties``, ...) or
    ``HADOOP_CONF_DIR``/``YARN_CONF_DIR`` would be hidden, a class-path
    directory is not empty, the caller sets its own default Java options
    or an ``-Xshare`` mode, or the cache directory is not writable."""
    env = os.environ
    spark_home = env.get("SPARK_HOME") or _find_spark_home()
    java_home = env.get("JAVA_HOME") or os.path.dirname(os.path.dirname(
        os.path.realpath(shutil.which("java") or "/")))
    class_path = [conf.get("spark.driver.extraClassPath", ""),
                  env.get("SPARK_DIST_CLASSPATH", "")]
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    d = cds_dir()
    if (SparkContext._gateway is not None
            or "PYSPARK_GATEWAY_PORT" in env
            or "spark.driver.defaultJavaOptions" in conf
            or "-Xshare" in conf.get("spark.driver.extraJavaOptions", "")
            or env.get("HADOOP_CONF_DIR") or env.get("YARN_CONF_DIR")
            or not os.path.isdir(os.path.join(spark_home, "jars"))
            # JDK 17 neither dumps nor maps an archive whose class path
            # has a non-empty directory; conf_dir is swapped out below
            or any(not n.endswith(".template") for n in _listdir(conf_dir))
            or any(_listdir(p) for cp in class_path
                   for p in cp.split(os.pathsep) if p)
            # the paths go unquoted into the launcher's and -Xlog's syntax
            or not re.fullmatch(r"[\w./+-]+", d)):
        return None
    empty_conf = os.path.join(d, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        key = cds_key(spark_home, java_home,
                      os.pathsep.join(filter(None, class_path)))
    except OSError:  # no JDK release file, or the cache is read-only
        return None
    if not os.access(d, os.W_OK):
        return None
    archive = os.path.join(d, f"{key}.jsa")
    if os.path.exists(archive):
        return archive, empty_conf, None
    # one builder per archive at a time; a dead builder's dump is garbage
    for t in glob.glob(f"{archive}.*.tmp"):
        if _pid_alive(int(t.rsplit(".", 2)[1])):
            return None
        with contextlib.suppress(FileNotFoundError):
            os.remove(t)
    return archive, empty_conf, f"{archive}.{os.getpid()}.tmp"


@contextlib.contextmanager
def driver_cds(conf: dict[str, str]):
    """Give the driver JVM that ``getOrCreate`` launches inside this block
    a dynamic class-data-sharing archive (JEP 350). Yields the
    ``spark.driver.defaultJavaOptions`` value to set, or None (see
    ``_cds_plan``), so a caller's ``spark.driver.extraJavaOptions`` stays.

    Without an archive for this install, the JVM writes one at exit
    (``-XX:ArchiveClassesAtExit``), and an interpreter-exit hook waits
    for it and fsyncs the dump before moving it into place. With one, the
    JVM maps it (``-XX:SharedArchiveFile``). A JVM that refuses the
    archive (stale or corrupt header) turns class-data sharing off, the
    JDK's default archive included; the launched JVM's ``java.vm.info``
    then lacks ``sharing``, and the archive is deleted so the next
    session writes a new one. An archive cut short behind a valid header
    is not refused: the launch dies (SIGBUS). The archive is deleted
    then too, and ``get_spark`` launches once more without it.

    For the launch only, ``SPARK_CONF_DIR`` points at an empty directory:
    Spark's conf dir holds only ``*.template`` files then, but on the
    class path it would stop the JVM from archiving.
    """
    plan = _cds_plan(conf)
    if plan is None:
        yield None
        return
    archive, empty_conf, tmp = plan
    opt = (f"-XX:ArchiveClassesAtExit={tmp}" if tmp
           else f"-XX:SharedArchiveFile={archive}")
    # CDS warnings (one per class it skips) go to a file, not stdout
    log = os.path.join(os.path.dirname(archive), "cds.log")
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = empty_conf
    try:
        yield (f"{opt} -Xlog:cds*=off "
               f"-Xlog:cds*=warning:file={log}::filecount=0")
    except PySparkRuntimeError:     # the JVM died before it answered
        if not tmp:
            with contextlib.suppress(FileNotFoundError):
                os.remove(archive)
        raise
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    gw = SparkContext._gateway
    if gw is None:
        return
    if tmp:
        atexit.register(_finish_cds_build, gw.proc, tmp, archive)
    elif "sharing" not in gw.jvm.java.lang.System.getProperty("java.vm.info"):
        with contextlib.suppress(FileNotFoundError):
            os.remove(archive)


def get_spark(
    app_name: str = "fluent_bit_spark",
    master: str | None = None,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]``. On a real
    cluster pass ``master=None`` with spark-submit providing the master;
    these conf values are equally valid there (AQE handles the rest).
    """
    if master is None:
        n = cores or os.environ.get("SPARK_GRAFT_CPUS") or "*"
        master = f"local[{n}]"
    if shuffle_partitions is None:
        ncpu = os.cpu_count() or 8
        shuffle_partitions = max(8, ncpu)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # the staged sink write's REBALANCE hint: AQE splits a skewed
        # (sink, source) group over several tasks
        .config("spark.sql.adaptive.optimizeSkewsInRebalancePartitions"
                ".enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        .config("spark.sql.files.maxPartitionBytes", "256m")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        # Local sandbox has no Iceberg runtime jar; in production add:
        #   spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
        #   spark.sql.catalog.logpipe=org.apache.iceberg.spark.SparkCatalog
        # io.py degrades to Parquet when the catalog is absent.
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    java_opts = None
    try:
        with driver_cds(extra_conf or {}) as java_opts:
            if java_opts:
                b = b.config("spark.driver.defaultJavaOptions", java_opts)
            spark = b.getOrCreate()
    except PySparkRuntimeError as first:
        # the JVM died mapping the archive, which driver_cds deleted:
        # launch once without it, and report the first failure if the
        # second launch fails too
        if "SharedArchiveFile" not in (java_opts or ""):
            raise
        try:
            spark = b.config("spark.driver.defaultJavaOptions",
                             "").getOrCreate()
        except PySparkRuntimeError:
            raise first from None
    spark.sparkContext.setLogLevel("WARN")
    return spark
