#!/usr/bin/env python3
"""Benchmark of the pages pipeline and the Python-worker operators.

    python3 perfbench/run.py --workload pages_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the checkout root. One closed loop: a single driver process
runs one Spark job at a time at ``local[nproc]``. ``--trace 0`` times
whole passes and prints the end-to-end metrics; ``--trace 1`` runs the
per-layer breakdown (``perfbench/layers.py``) with Spark's event log
on. Every pass's output is checked outside the timed window. The last
stdout line is one JSON object: correct, attempted, failed, metrics.
The exit code is 0 only when every check passed, and 2 (with no result
line) when the engine is not beside the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import env  # noqa: E402  (needs ROOT on sys.path)

ROWS = 50_000           # pages rows per input
SETUP_SAMPLES = 2       # this process plus one probe process
MIN_PASSES = 3          # timed passes, even when a pass outlasts --seconds

# gated end-to-end metrics; cold_pass_s and peak_rss_mb are measured and
# printed too, but spread too widely between runs here to carry a bound
E2E_UNITS = {"docs_per_s": "docs/s", "setup_s": "s"}


def setup_sample(n: int) -> float:
    """Seconds from starting a fresh process to its ready session."""
    t0 = time.perf_counter()
    proc = subprocess.Popen([sys.executable, "-m", "perfbench.setup_probe", str(n)],
                            cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL, text=True)
    try:
        line = proc.stdout.readline()
        ready = time.perf_counter() - t0
        proc.stdout.read()
    finally:
        code = proc.wait(timeout=180)
    if line.strip() != "ready" or code != 0:
        raise RuntimeError(f"set-up probe failed (exit {code})")
    return ready


class Passes:
    """Runs and checks passes of one workload; counts attempts."""

    def __init__(self, workload):
        self.workload = workload
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def one(self) -> float | None:
        """Time one pass, then check it. None if it raised or failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            self.workload.run_pass()
            took = time.perf_counter() - t0
            found = self.workload.check()
        except Exception:  # a failed pass is counted, not fatal
            traceback.print_exc()
            took, found = None, ["pass raised; traceback on stderr"]
        self.problems += found
        self.failed += bool(found)
        return None if found else took


def end_to_end(spark, name: str, inputs, run_dir: str, seconds: float):
    from perfbench import checks, workloads
    from perfbench.stats import median

    w = workloads.make(name, spark, inputs, run_dir)
    loop = Passes(w)
    cold = loop.one()
    for _ in range(w.warmup_passes):  # after the cold pass, before timing
        loop.one()
    timed: list[float] = []
    start = time.perf_counter()
    while len(timed) < MIN_PASSES or time.perf_counter() - start < seconds:
        took = loop.one()
        if took is not None:
            timed.append(took)
        elif time.perf_counter() - start >= seconds and loop.failed > MIN_PASSES:
            break
    if name == "udf_ops":
        found = checks.check_hash_vectors(spark)
        loop.attempted += 1
        loop.failed += bool(found)
        loop.problems += found
    metrics = {"peak_rss_mb": env.peak_rss_mb(), "passes": timed}
    if cold is not None:
        metrics["cold_pass_s"] = cold
    if timed:
        metrics["docs_per_s"] = w.rows / median(timed)
    return metrics, loop.attempted, loop.problems, loop.failed


def run(args) -> int:
    from perfbench import layers
    from perfbench.stats import median
    from perfbench.workloads import prepare_inputs

    host_start = env.host_snapshot()
    env.prepare_process_env()
    run_dir = os.path.join(env.WORK, "runs",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    event_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(run_dir, exist_ok=True)
    import pyspark  # noqa: F401  (import cost belongs to set-up)

    import opentelemetry_collector_contrib_spark.plans.pipeline  # noqa: F401
    n = env.cpus()
    imports_s = env.process_age_s()
    setup = [] if args.trace else [setup_sample(n) for _ in range(SETUP_SAMPLES - 1)]
    t0 = time.perf_counter()
    spark = env.open_session(f"local[{n}]", event_dir if args.trace else None)
    setup.insert(0, imports_s + time.perf_counter() - t0)
    inputs = prepare_inputs(args.seed, args.rows)

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "rows": inputs.rows,
              "gen_s": inputs.gen_s, "setup_samples": setup}
    try:
        if args.trace:
            measured, attempted, problems = layers.traced_run(
                spark, inputs, run_dir, event_dir)
            failed = min(len(problems), attempted)
            spark = None  # traced_run closed it
        else:
            measured, attempted, problems, failed = end_to_end(
                spark, args.workload, inputs, run_dir, args.seconds)
            measured["setup_s"] = median(setup)
    except Exception:
        traceback.print_exc()
        measured, attempted, problems, failed = {}, 1, ["run raised"], 1
    finally:
        if spark is not None:
            env.close_session(spark)
    record["host"] = env.host_record(host_start, env.host_snapshot())
    record.update(measured=measured, problems=problems)
    with open(os.path.join(run_dir, "run.json"), "w") as f:
        json.dump(record, f, indent=1)
    for entry in os.listdir(run_dir):  # keep the record, drop pipeline outputs
        if entry not in ("run.json", "spans.json", "eventlog"):
            shutil.rmtree(os.path.join(run_dir, entry), ignore_errors=True)

    names = layers.per_layer_names() if args.trace else list(E2E_UNITS)
    metrics = {k: {"value": measured[k], "unit": unit_of(k)}
               for k in names if k in measured}
    for p in problems:
        print(f"FAILED: {p}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"host={json.dumps(record['host'])} gen_s={inputs.gen_s:.3f}")
    for k, v in measured.items():
        if k not in metrics:
            print(f"# {k} = {v}")
    for k, v in metrics.items():
        print(f"{args.workload} {k} = {v['value']:.6g} {v['unit']}")
    correct = not problems and len(metrics) == len(names)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": max(failed, int(not correct)), "metrics": metrics}))
    return 0 if correct else 1


def unit_of(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    if name.endswith("docs_per_s"):
        return "docs/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_read") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("files", "jobs", "write_tasks")):
        return "count"
    if name.endswith("hash_probes_avg"):
        return "probes/key"
    return "ratio"


def smoke() -> int:
    """Every workload, end to end and traced, on tiny inputs."""
    from perfbench.workloads import WORKLOADS

    ok = True
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace),
                   "--rows", "4000"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            last = proc.stdout.strip().splitlines()[-1:] or ["{}"]
            result = json.loads(last[0]) if last[0].startswith("{") else {}
            good = proc.returncode == 0 and result.get("correct") is True
            ok &= good
            print(f"smoke {workload} trace={trace}: {'ok' if good else 'FAILED'} "
                  f"({len(result.get('metrics', {}))} metrics)")
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    for need in (env.PACKAGE, os.path.join("tests", "golden_routing.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"error: {need} not found beside perfbench/; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=ROWS, help=argparse.SUPPRESS)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload on tiny inputs, traced and not")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required")
    return smoke() if args.smoke else run(args)


if __name__ == "__main__":
    sys.exit(main())
