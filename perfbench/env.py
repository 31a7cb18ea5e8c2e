"""Where the benchmark keeps its files, how it opens and closes Spark,
and what it records about the host.

Everything the benchmark writes lands under ``.bench_build/perfbench``
in the checkout: inputs, run records, Spark's scratch and temp files.
"""

from __future__ import annotations

import os
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
PACKAGE = "opentelemetry_collector_contrib_spark"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_process_env() -> None:
    """Keep Spark's and Python's scratch files inside the checkout and
    let Python workers import the engine from any working directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # inputs are small; a 2 GB heap keeps the JVM's footprint (and
    # peak_rss_mb) from tracking the host's free memory
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def open_session(master: str, event_log_dir: str | None = None):
    from opentelemetry_collector_contrib_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    n = int(master[len("local["):-1])
    return get_spark(master=master, app_name="perfbench",
                     shuffle_partitions=n, extra_conf=conf)


def close_session(spark, timeout: float = 120.0) -> None:
    """Stop Spark, end the gateway JVM and wait for it and every
    process it started (Python workers included) to exit."""
    from pyspark import SparkContext

    spawned = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in spawned):
        if time.monotonic() > deadline:
            for p in spawned:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            break
        time.sleep(0.05)


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, cmdline) for every readable process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except (OSError, IndexError, ValueError):
            continue
        table[int(name)] = (ppid, cmd)
    return table


def descendants(pid: int | None = None) -> list[int]:
    root = os.getpid() if pid is None else pid
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for p, (pp, _) in table.items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Largest peak resident set (VmHWM) among this process and its
    descendants; the driver JVM is the largest."""
    best = 0
    for p in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
                        break
        except OSError:
            continue
    return best / 1024.0


def process_age_s() -> float:
    """Seconds since this process started (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def host_snapshot() -> dict:
    """Load average, CPU tick counters and other Spark JVMs on the host."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    mine = set(descendants())
    others = [p for p, (_, cmd) in _proc_table().items()
              if "org.apache.spark" in cmd and p not in mine]
    return {"time": time.time(), "load1": load1, "steal_ticks": ticks[7],
            "total_ticks": sum(ticks), "other_spark_jvms": len(others)}


def host_record(start: dict, end: dict) -> dict:
    total = end["total_ticks"] - start["total_ticks"]
    return {
        "nproc": cpus(),
        "load1_start": start["load1"], "load1_end": end["load1"],
        "steal_share": ((end["steal_ticks"] - start["steal_ticks"]) / total
                        if total > 0 else 0.0),
        "other_spark_jvm": bool(start["other_spark_jvms"] or end["other_spark_jvms"]),
    }
