"""``session.get_spark``: the class-data (AppCDS) archive the driver JVM
starts from, and the py4j cost of building Columns.

The archive tests start at most three fresh Python processes, each with
``XDG_CACHE_HOME`` in a temporary directory: a dump-mode process killed
with SIGKILL, the next (normal) start, and a start from the archive
that then relaunches its JVM under a conf directory holding a real
``spark-defaults.conf``. Everything else runs in this process.
"""

import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pytest

from opentelemetry_collector_contrib_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# start, report to a file (stdout must stay empty), wait for stdin EOF
HOLD = """
import sys
from pyspark import SparkContext
from opentelemetry_collector_contrib_spark.session import get_spark
spark = get_spark("local[1]", shuffle_partitions=1)
with open(sys.argv[1], "w") as f:
    f.write(str(SparkContext._gateway.proc.pid))
sys.stdin.read()
"""

# start, run a job, report what the JVM was started with, stop
RUN = """
import json, sys
from pyspark import SparkContext
from opentelemetry_collector_contrib_spark.session import get_spark

def start():
    spark = get_spark("local[1]", shuffle_partitions=1)
    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/maps") as f:
        mapped = sorted({l.split()[-1] for l in f if l.rstrip().endswith(".jsa")})
    args = list(spark._jvm.java.lang.management.ManagementFactory
                .getRuntimeMXBean().getInputArguments())
    return spark, {"count": spark.range(100).count(), "mapped": mapped,
                   "archive_flags": [a for a in args if "Archive" in a]}

def close(spark):
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits on EOF
    gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None

spark, first = start()
got = {"first": first}
if len(sys.argv) > 2:  # relaunch under a conf directory with real settings
    close(spark)
    import os
    os.environ["SPARK_CONF_DIR"] = sys.argv[2]
    spark, got["conf_dir"] = start()
    got["conf_dir"]["probe"] = spark.conf.get("spark.otelcol.probe", None)
spark.stop()
with open(sys.argv[1], "w") as f:
    json.dump(got, f)
"""


def _env(cache: str) -> dict:
    env = dict(os.environ, XDG_CACHE_HOME=cache, PYTHONPATH=REPO)
    env.pop("SPARK_CONF_DIR", None)
    return env


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except FileNotFoundError:
        return ""


def _gone(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _ours(cache: str, mapped: list) -> list:
    """The mapped archives under ``cache`` (the JDK's own base archive
    is mapped in every start)."""
    return [m for m in mapped if m.startswith(cache + os.sep)]


def _run(cache: str, out: str, *args: str) -> tuple[dict, str]:
    res = subprocess.run([sys.executable, "-c", RUN, out, *args], cwd=REPO,
                         env=_env(cache), capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    with open(out) as f:
        return json.load(f), res.stdout


@pytest.fixture(scope="module")
def cache(tmp_path_factory):
    """A cache directory after a killed dump-mode start and the normal
    start that follows it; returns (directory, what each step saw)."""
    base = tmp_path_factory.mktemp("xdg")
    cds = os.path.join(base, "otelcol-spark")
    seen = {}
    pid_file = str(base / "jvm.pid")
    proc = subprocess.Popen([sys.executable, "-c", HOLD, pid_file], cwd=REPO,
                            env=_env(str(base)), stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    try:
        deadline = time.monotonic() + 300
        while not _read(pid_file):
            assert proc.poll() is None and time.monotonic() < deadline, "start failed"
            time.sleep(0.2)
        jvm = int(_read(pid_file))
        os.kill(proc.pid, signal.SIGKILL)
        proc.wait()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 300
    while not _gone(jvm):  # orphaned, the JVM sees stdin EOF and exits
        assert time.monotonic() < deadline, "orphaned JVM did not exit"
        time.sleep(0.2)
    seen["killed"] = {"archives": glob.glob(os.path.join(cds, "*.jsa")),
                      "dumps": glob.glob(os.path.join(cds, "*.tmp"))}
    seen["next"] = _run(str(base), str(base / "next.json"))
    seen["after_next"] = {"archives": glob.glob(os.path.join(cds, "*.jsa")),
                          "dumps": glob.glob(os.path.join(cds, "*.tmp"))}
    yield str(base), seen
    shutil.rmtree(cds, ignore_errors=True)  # ~140 MB


def test_killed_dump_leaves_no_archive_and_next_start_is_normal(cache):
    base, seen = cache
    # the orphaned JVM wrote its dump, but only under a temporary name
    assert seen["killed"]["archives"] == []
    assert len(seen["killed"]["dumps"]) == 1
    got, stdout = seen["next"]
    assert got["first"]["count"] == 100
    assert _ours(base, got["first"]["mapped"]) == []  # no archive yet: it dumps
    assert [a.split("=")[0] for a in got["first"]["archive_flags"]] == [
        "-XX:ArchiveClassesAtExit"]
    assert stdout == ""
    # published when that JVM exited with status 0; the orphan is gone
    assert len(seen["after_next"]["archives"]) == 1
    assert seen["after_next"]["dumps"] == []


def test_start_from_archive_is_silent_and_real_conf_dir_gets_no_flags(cache, tmp_path):
    base, _ = cache
    cds = os.path.join(base, "otelcol-spark")
    [archive] = glob.glob(os.path.join(cds, "*.jsa"))
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.otelcol.probe honoured\n")
    got, stdout = _run(base, str(tmp_path / "out.json"), str(conf))
    assert stdout == ""
    assert got["first"]["count"] == 100
    assert _ours(base, got["first"]["mapped"]) == [archive]
    assert got["first"]["archive_flags"] == [f"-XX:SharedArchiveFile={archive}"]
    # a conf directory Spark reads is left in place, without CDS flags
    assert got["conf_dir"]["count"] == 100
    assert got["conf_dir"]["probe"] == "honoured"
    assert got["conf_dir"]["archive_flags"] == []
    assert _ours(base, got["conf_dir"]["mapped"]) == []
    assert glob.glob(os.path.join(cds, "*.jsa")) == [archive]
    assert glob.glob(os.path.join(cds, "*.tmp")) == []


def test_archive_plan_rules(tmp_path, monkeypatch):
    """Which launches get CDS flags, decided without starting a JVM."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    conf = tmp_path / "spark-conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    empty, archive, dump_to = session._archive_plan()
    cds = tmp_path / "otelcol-spark"
    assert os.stat(cds).st_mode & 0o777 == 0o700
    assert empty == str(cds / "conf") and os.listdir(empty) == []
    assert os.path.dirname(archive) == str(cds) and archive.endswith(".jsa")
    assert dump_to.startswith(f"{archive}.{os.getpid()}-") and dump_to.endswith(".tmp")
    open(archive, "wb").close()
    assert session._archive_plan() == (empty, archive, None)
    # an absent conf directory counts as templates-only
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "absent"))
    assert session._archive_plan() == (empty, archive, None)
    # a conf directory Spark reads: no archive
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    (conf / "spark-defaults.conf").write_text("spark.otelcol.probe x\n")
    assert session._archive_plan() is None
    os.remove(conf / "spark-defaults.conf")
    # the empty conf directory must stay empty
    open(os.path.join(empty, "log4j2.properties"), "w").close()
    assert session._archive_plan() is None
    os.remove(os.path.join(empty, "log4j2.properties"))
    # a cache directory others may write to, or not this user's: no archive
    os.chmod(cds, 0o770)
    assert session._archive_plan() is None
    os.chmod(cds, 0o700)
    if os.getuid() == 0:
        os.chown(cds, 12345, -1)
        assert session._archive_plan() is None
        os.chown(cds, 0, -1)
    assert session._archive_plan() == (empty, archive, None)


def test_archive_key_follows_the_jar_listing(tmp_path, monkeypatch):
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "a.jar").write_bytes(b"a")
    key = session._archive_key(str(home))
    assert key == session._archive_key(str(home))
    (home / "jars" / "b.jar").write_bytes(b"b")
    assert session._archive_key(str(home)) != key
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "no-jdk"))
    assert session._archive_key(str(home)) is None


def test_dump_published_only_after_a_clean_exit(tmp_path, monkeypatch):
    """A dump takes the archive's name only when its JVM exited with
    status 0; a failed or still-running writer's file never does, and
    publishing drops other keys' archives."""
    monkeypatch.setattr(session, "_pending_dumps", [])
    other = tmp_path / "spark-0000000000000000.jsa"
    other.write_bytes(b"old key")
    running = subprocess.Popen([sys.executable, "-c", "import sys; sys.stdin.read()"],
                               stdin=subprocess.PIPE)
    try:
        cases = {}
        for name, proc in (("failed", subprocess.Popen(["false"])),
                           ("running", running),
                           ("clean", subprocess.Popen(["true"]))):
            archive = str(tmp_path / f"spark-{name}.jsa")
            tmp = f"{archive}.1-1.tmp"
            with open(tmp, "wb") as f:
                f.write(name.encode())
            cases[name] = (archive, tmp)
            session._pending_dumps.append((proc, tmp, archive))
        for proc, _, _ in session._pending_dumps:
            if proc is not running:
                proc.wait()
        session._publish_finished_dumps()
        assert not os.path.exists(cases["failed"][0])
        assert not os.path.exists(cases["failed"][1])
        assert not os.path.exists(cases["running"][0])
        assert os.path.exists(cases["running"][1])
        assert open(cases["clean"][0], "rb").read() == b"clean"
        assert not other.exists()
        assert [t for _, t, _ in session._pending_dumps] == [cases["running"][1]]
    finally:
        running.stdin.close()
        running.wait()


def test_explicit_bucket_round_trips(spark, monkeypatch):
    """Building the default-bounds bucket Column costs ~11 py4j round
    trips per bound with PySpark's call-site capture off (~32 with it
    on: 512 in all)."""
    from py4j.clientserver import ClientServerConnection
    from pyspark.sql import functions as F

    from opentelemetry_collector_contrib_spark.operators.aggregate import (
        DEFAULT_SPANMETRICS_BUCKETS_MS,
        explicit_bucket,
    )

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    calls = []
    real = ClientServerConnection.send_command
    monkeypatch.setattr(ClientServerConnection, "send_command",
                        lambda self, command: calls.append(1) or real(self, command))
    explicit_bucket(F.col("v"), DEFAULT_SPANMETRICS_BUCKETS_MS)
    assert len(calls) <= 250
