"""Event-log aggregation over a small log recorded from a traced run
(three spans and one job outside any span, trimmed to the fields read).

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

import json
import os

import pytest

from perfbench.layers import _split_full_passes
from perfbench.tracing import read_jobs, summarize, summarize_groups

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")
FULL = "pipeline.full#9"


def aggregate_event_logs(paths):
    return summarize_groups(read_jobs(paths))


def _events():
    with open(LOG) as f:
        return [json.loads(line) for line in f]


def _stage_groups():
    """Stage -> job group, read straight from the job-start events."""
    out = {}
    for e in _events():
        if e["Event"] == "SparkListenerJobStart":
            for s in e["Stage IDs"]:
                out[s] = e["Properties"].get("spark.jobGroup.id")
    return out


def test_only_grouped_jobs_are_reported():
    groups = aggregate_event_logs([LOG])
    assert set(groups) == {"pipeline.scan#1", FULL, "hashes.fnv1a64#19"}
    assert None in _stage_groups().values()  # the log holds an ungrouped job


def test_task_metrics_are_summed_per_group():
    stage_group = _stage_groups()
    want: dict = {}
    for e in _events():
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        g = stage_group[e["Stage ID"]]
        if g is None:
            continue
        tm = e["Task Metrics"]
        w = want.setdefault(g, {"tasks": 0, "run_ms": 0, "cpu_ns": 0, "written": 0})
        w["tasks"] += 1
        w["run_ms"] += tm["Executor Run Time"]
        w["cpu_ns"] += tm["Executor CPU Time"]
        w["written"] += tm["Output Metrics"]["Bytes Written"]
    got = aggregate_event_logs([LOG])
    for g, w in want.items():
        assert got[g]["tasks"] == w["tasks"]
        assert got[g]["run_s"] == pytest.approx(w["run_ms"] / 1e3)
        assert got[g]["cpu_s"] == pytest.approx(w["cpu_ns"] / 1e9)
        assert got[g]["wait_s"] == pytest.approx(got[g]["run_s"] - got[g]["cpu_s"])
        assert got[g]["bytes_written"] == w["written"]


def test_recorded_values():
    got = aggregate_event_logs([LOG])
    scan, full, fnv = got["pipeline.scan#1"], got[FULL], got["hashes.fnv1a64#19"]
    # driver-side plan metrics: size of files scanned, files written
    assert scan["bytes_read"] == 408177.0 and scan["files"] == 0.0
    # one flagship pass: 16 sink files, then 3 metric files read back
    assert (full["jobs"], full["files"]) == (8, 19.0)
    assert full["hash_probes_avg"] == pytest.approx(1.0)  # stored x10 in the log
    assert full["python_s"] == 0.0 and full["python_bytes"] == 0.0
    assert fnv["jobs"] == 2
    assert fnv["python_s"] == pytest.approx(1.069)  # ms in the log
    assert fnv["python_bytes"] == 214400.0          # sent + returned


def test_jobs_keep_their_times_and_driver_metrics():
    jobs = [j for j in read_jobs([LOG]) if j["group"] == FULL]
    assert all(j["submit"] <= j["end"] for j in jobs)
    assert [j["submit"] for j in jobs] == sorted(j["submit"] for j in jobs)
    # "number of written files" goes to the last job of its execution:
    # the sink write, then the metrics write
    assert [j["files"] for j in jobs if j["files"]] == [16.0, 3.0]


def test_full_pass_splits_at_the_sink_commit():
    jobs = read_jobs([LOG])
    mine = [j for j in jobs if j["group"] == FULL]
    sink = next(j for j in mine if j["files"] == 16.0)
    mark = sink["end"] + 0.05  # _SUCCESS is written after the job ends

    class Spans:
        spans = [{"name": "pipeline.full", "id": FULL,
                  "start": mine[0]["submit"] - 0.1, "end": mine[-1]["end"] + 0.1}]

    [(write_s, agg_s, write, agg)] = _split_full_passes(Spans, jobs, [mark])
    assert write_s == pytest.approx(mark - Spans.spans[0]["start"])
    assert agg_s == pytest.approx(Spans.spans[0]["end"] - mark)
    assert sink in write and len(write) + len(agg) == len(mine)
    assert summarize(write)["files"] == 16.0
    assert summarize(write)["hash_probes_avg"] == 0.0
    assert summarize(agg)["hash_probes_avg"] == pytest.approx(1.0)


def test_logs_are_read_independently():
    # stage ids restart per application; two copies double every sum
    once, twice = aggregate_event_logs([LOG]), aggregate_event_logs([LOG, LOG])
    for g in once:
        assert twice[g]["tasks"] == 2 * once[g]["tasks"]
        assert twice[g]["python_bytes"] == 2 * once[g]["python_bytes"]
        assert twice[g]["bytes_read"] == 2 * once[g]["bytes_read"]
