"""Crash/resume drill: run the checkpointed pipeline in a subprocess,
kill -9 it as soon as its first commit group lands in the ledger (real
crash: half-written group dirs, no cleanup), then resume and verify
zero duplicate / zero missing rows per sink.

Usage: python scripts/chaos_resume.py [rows]
"""

import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
GROUPS = 8
MASTER = f"local[{os.environ.get('SPARK_GRAFT_CPUS') or len(os.sched_getaffinity(0))}]"


def main() -> int:
    import tempfile
    work = tempfile.mkdtemp(prefix="chaos_")
    out = os.path.join(work, "out")

    from opentelemetry_collector_contrib_spark.datagen import write_pages
    pages_dir = os.path.join(work, "pages")
    write_pages(pages_dir, ROWS, partitions=16)

    cmd = [sys.executable, "jobs/run_pages_pipeline.py",
           "--input", pages_dir, "--output", out,
           "--groups", str(GROUPS), "--master", MASTER]
    print("[chaos] starting victim, kill -9 after its first commit",
          flush=True)
    victim = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL)
    ledger = os.path.join(out, "_ledger")

    def committed() -> list[str]:
        names = os.listdir(ledger) if os.path.isdir(ledger) else []
        return sorted(n for n in names if n.startswith("group-"))

    while victim.poll() is None and not committed():
        time.sleep(0.05)
    victim.send_signal(signal.SIGKILL)
    victim.wait()
    done = committed()
    print(f"[chaos] killed; completed groups at crash: {done}", flush=True)

    print("[chaos] resuming...", flush=True)
    res = subprocess.run(cmd, capture_output=True, text=True)
    if res.returncode != 0:
        print(res.stderr[-2000:])
        return 1
    counters = json.loads([l for l in res.stdout.splitlines()
                           if l.startswith("{")][-1])

    # verify with a fresh session
    from opentelemetry_collector_contrib_spark.session import get_spark
    spark = get_spark(MASTER, shuffle_partitions=8)
    back = spark.read.parquet(os.path.join(out, "routed"))
    total = back.count()
    # urls alone collide by construction (path suffix is row_id mod
    # 99971); (url, warc_ts) is unique per generated row
    distinct = back.select("url", "warc_ts").distinct().count()
    ok = (0 < len(done) < GROUPS and counters["accepted"] == ROWS
          and total == ROWS and distinct == ROWS)
    print(json.dumps({
        "rows": ROWS, "accepted": counters["accepted"],
        "rows_written": total, "distinct_urls": distinct,
        "groups_done_at_crash": len(done),
        "sent": counters["sent"],
        "verdict": "PASS" if ok else "FAIL",
    }), flush=True)
    spark.stop()
    return 0 if ok else 2


if __name__ == "__main__":
    raise SystemExit(main())
