"""SparkSession helpers tuned for the log-pipeline workload.

Local-mode testing stands in for a multi-executor cluster; the confs
below are the ones that matter identically at 1000-executor scale:
AQE (runtime replan + skew-join splitting), Arrow for pandas-UDF
batches, shuffle-partition sizing, and broadcast threshold for the
enrichment lookup joins.

When ``get_spark`` launches the driver JVM itself, it starts it from a
dynamic AppCDS archive: a per-user file holding the JVM's parsed and
verified Spark/Scala classes, which halves the time to a ready session.
The first launch for a given JVM and jar set writes the archive when
that JVM exits; see the README's "Why sessions start from a class-data
archive".
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import itertools
import os
import shutil
import stat
import subprocess

from pyspark import SparkContext
from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the JVM's unified logging goes to stdout by default, and callers read
# their own stdout: warnings go to stderr instead, except CDS's (~600
# "Skipping <class>" lines from the JVM that writes the archive)
_JVM_LOG_FLAGS = "-Xlog:disable -Xlog:all=warning,cds*=off:stderr:uptime,level,tags"

# archive writes started by this process, published once their JVM exits
_pending_dumps: list[tuple[subprocess.Popen, str, str]] = []
_dump_seq = itertools.count(1)


def get_spark(
    master: str | None = None,
    app_name: str = "otelcol-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` when this
    call launches the JVM. When the JVM is already up (spark-submit, or
    an earlier session in this process) the caller's master, if any, is
    the only one set, so spark-submit's ``--master`` and
    ``--driver-memory`` stand.
    """
    launching = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    if master is None and launching:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    if launching:
        builder = builder.config("spark.driver.memory",
                                 os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # PySpark's call-site capture wraps every Column call in ~10
        # py4j round trips (active session, conf lookup, origin
        # set/clear); off, the warm flagship pass makes 490 instead of
        # 700, at the price of analysis errors without the Python line
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python workers import the engine when they unpickle its UDFs:
        # give them the directory that holds this package (the checkout
        # root, or the zip itself under --py-files), not the driver's cwd
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # snappy (Spark's default): zstd halves write throughput on the
        # hot sink path — measured 87.5s -> 70.7s (2 cores) and
        # 35.7s -> 20.6s (8 cores) for the 5M-row per-sink write, and
        # its heavier per-writer memory traffic is what dragged the
        # N->4N write-phase scaling to 0.39 (BENCH/BASELINE.md). Cold
        # archival tables can opt into zstd with get_spark(extra_conf=
        # {"spark.sql.parquet.compression.codec": "zstd"}).
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    if launching:
        spark = _launch(builder, extra_conf.get("spark.driver.defaultJavaOptions"))
    else:
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _launch(builder: SparkSession.Builder, java_opts: str | None) -> SparkSession:
    """Launch the driver JVM from the class archive when one can be used
    (writing it when absent), and stop that JVM when Python exits."""
    _publish_finished_dumps()
    plan = _archive_plan()
    saved = os.environ.get("SPARK_CONF_DIR")
    if plan is not None:
        conf_dir, archive, dump_to = plan
        flag = (f"-XX:ArchiveClassesAtExit={dump_to}" if dump_to
                else f"-XX:SharedArchiveFile={archive}")
        # perfbench and callers set extraJavaOptions, which would replace
        # flags put there; defaultJavaOptions is prepended to it instead
        builder = builder.config("spark.driver.defaultJavaOptions", " ".join(
            o for o in (flag, _JVM_LOG_FLAGS, java_opts) if o))
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    proc = SparkContext._gateway.proc
    if plan is not None and dump_to:
        _pending_dumps.append((proc, dump_to, archive))
    _stop_at_exit(proc)
    return spark


def _archive_plan() -> tuple[str, str, str | None] | None:
    """(empty conf dir, archive path, temporary dump path or None when
    the archive exists), or None when this launch cannot use one."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    # JDK 17 refuses a non-empty directory on the class path, and the
    # conf directory is on it: only a directory Spark reads nothing
    # from (templates) may be swapped for an empty one
    try:
        if not all(n.endswith(".template") for n in os.listdir(conf)):
            return None
    except FileNotFoundError:
        pass
    except OSError:
        return None
    cache = _cache_dir()
    key = _archive_key(spark_home)
    if cache is None or key is None:
        return None
    empty = os.path.join(cache, "conf")
    try:
        os.makedirs(empty, mode=0o700, exist_ok=True)
        if os.listdir(empty):
            return None
    except OSError:
        return None
    _remove_orphan_dumps(cache)
    archive = os.path.join(cache, f"spark-{key}.jsa")
    if os.path.isfile(archive):
        return empty, archive, None
    return empty, archive, f"{archive}.{os.getpid()}-{next(_dump_seq)}.tmp"


def _cache_dir() -> str | None:
    """``$XDG_CACHE_HOME/otelcol-spark`` (default ``~/.cache``), made
    0700; None when it is not this user's or others may write to it."""
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    path = os.path.join(base, "otelcol-spark")
    try:
        os.makedirs(path, mode=0o700, exist_ok=True)
        st = os.lstat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid() or st.st_mode & 0o022:
        return None
    return path


def _archive_key(spark_home: str) -> str | None:
    """Hash of the java binary spark-class runs (realpath + stat) and of
    the jar listing (name, size, mtime): what an archive was dumped
    from."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    jars = os.path.join(spark_home, "jars")
    h = hashlib.sha256()
    try:
        real = os.path.realpath(java or "")
        st = os.stat(real)
        h.update(f"{real}\0{st.st_size}\0{st.st_mtime_ns}\n{jars}\n".encode())
        for entry in sorted(os.scandir(jars), key=lambda e: e.name):
            st = entry.stat()
            h.update(f"{entry.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    except OSError:
        return None
    return h.hexdigest()[:16]


def _remove_orphan_dumps(cache: str) -> None:
    """Drop temporary dumps whose Python process is gone: it was killed
    before it could check its JVM's exit status."""
    for path in glob.glob(os.path.join(cache, "spark-*.jsa.*.tmp")):
        pid = path.rsplit(".", 2)[1].split("-")[0]
        if pid.isdigit() and int(pid) != os.getpid() and not os.path.exists(f"/proc/{pid}"):
            _remove(path)


def _publish_finished_dumps() -> None:
    """Rename each finished dump into place if its JVM exited with
    status 0, else delete it: a truncated archive crashes the JVM that
    maps it, so only a complete one ever gets the archive's name."""
    for entry in list(_pending_dumps):
        proc, tmp, archive = entry
        if proc.poll() is None:
            continue
        _pending_dumps.remove(entry)
        if proc.returncode != 0 or not os.path.isfile(tmp):
            _remove(tmp)
            continue
        try:
            with open(tmp, "rb") as f:
                os.fsync(f.fileno())
            os.replace(tmp, archive)
        except OSError:
            _remove(tmp)
            continue
        # one archive per key: archives of other JVMs or jar sets go
        for other in glob.glob(os.path.join(os.path.dirname(archive), "spark-*.jsa")):
            if other != archive:
                _remove(other)


def _stop_at_exit(proc: subprocess.Popen | None) -> None:
    """At interpreter exit, end the gateway JVM (it exits on stdin EOF)
    and wait for it, so no JVM outlives this process and a dumping JVM
    has finished its archive before it is published."""
    if proc is None:
        return

    def stop() -> None:
        if proc.poll() is None:
            try:
                proc.stdin.close()
                proc.wait(timeout=300)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
        _publish_finished_dumps()

    atexit.register(stop)


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass
