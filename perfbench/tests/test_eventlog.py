"""Event-log parsing: a small log captured from Spark 4.1 (rasterize,
pyramid_up and focal under job groups ``rast#0``, ``up#0``, ``focal#0``,
then two jobs outside any group), trimmed to the fields the parser reads."""

import json
import os

import pytest

from perfbench import eventlog

SAMPLE = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def _events():
    with open(SAMPLE) as f:
        return [json.loads(line) for line in f]


def test_jobs_outside_a_group_are_ignored():
    out = eventlog.parse_file(SAMPLE)
    assert set(out["calls"]) == {"rast#0", "up#0", "focal#0"}
    assert set(out["spans"]) == {"rast", "up", "focal"}


def test_counts_only_stages_that_ran():
    out = eventlog.parse_file(SAMPLE)
    evs = _events()
    submitted = {e["Job ID"]: e["Stage IDs"] for e in evs if e["Event"] == "SparkListenerJobStart"}
    completed = {e["Stage Info"]["Stage ID"] for e in evs
                 if e["Event"] == "SparkListenerStageCompleted"}
    groups = {e["Job ID"]: e["Properties"].get("spark.jobGroup.id") for e in evs
              if e["Event"] == "SparkListenerJobStart"}
    rast_stages = {s for j, ss in submitted.items() if groups[j] == "rast#0" for s in ss}
    assert out["calls"]["rast#0"]["jobs"] == sum(g == "rast#0" for g in groups.values())
    assert out["calls"]["rast#0"]["stages"] == len(rast_stages & completed)
    assert len(rast_stages) > len(rast_stages & completed)  # some were skipped


def test_sums_accumulables_per_group_with_units():
    out = eventlog.parse_file(SAMPLE)
    evs = _events()
    groups = {e["Job ID"]: e["Properties"].get("spark.jobGroup.id") for e in evs
              if e["Event"] == "SparkListenerJobStart"}
    stage_group = {}
    for e in evs:
        if e["Event"] == "SparkListenerJobStart":
            for s in e["Stage IDs"]:
                stage_group.setdefault(s, groups[e["Job ID"]])
    want_sent = want_run_ms = 0
    for e in evs:
        if e["Event"] == "SparkListenerStageCompleted" and \
                stage_group[e["Stage Info"]["Stage ID"]] == "focal#0":
            for a in e["Stage Info"]["Accumulables"]:
                # SQL metrics are logged as strings, task metrics as numbers
                if a["Name"] == "data sent to Python workers":
                    want_sent += int(a["Value"])
                if a["Name"] == "internal.metrics.executorRunTime":
                    want_run_ms += int(a["Value"])
    focal = out["calls"]["focal#0"]
    assert want_sent > 0
    assert focal["python_bytes_sent"] == want_sent
    assert focal["executor_run_s"] == pytest.approx(want_run_ms / 1000)


def test_shared_stage_counts_once_for_its_first_job():
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "a#1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "a#2"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 4, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 2000}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Number of Tasks": 1, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 500}]}},
    ]
    out = eventlog.parse(json.dumps(e) for e in lines)
    assert out["calls"]["a#1"]["tasks"] == 4
    assert out["calls"]["a#2"]["tasks"] == 1
    span = out["spans"]["a"]
    assert (span["calls"], span["jobs"], span["stages"]) == (2, 2, 2)
    per = eventlog.per_call(span)
    assert per["executor_run_s"] == pytest.approx(1.25)
    assert per["tasks"] == pytest.approx(2.5)
    assert per["python_bytes_sent"] == 0


def test_per_call_of_a_span_that_never_ran_is_zero():
    assert all(v == 0 for v in eventlog.per_call({}).values())
