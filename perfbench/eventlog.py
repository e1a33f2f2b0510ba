"""Attribute Spark event-log stage metrics to the benchmark's spans.

Each traced call runs under a job group named ``<span>#<call>``. The log
(uncompressed JSON lines, one event per line) names the job group of
every job and the stages each job submitted; a completed stage carries
its task metrics summed over its tasks as accumulables. Skipped stages
(shuffle output reused) never complete and so add nothing.
"""

from __future__ import annotations

import json
from collections import defaultdict

# output key -> (accumulable name, scale to the reported unit)
STAGE_METRICS = {
    "executor_run_s": ("internal.metrics.executorRunTime", 1e-3),
    "executor_cpu_s": ("internal.metrics.executorCpuTime", 1e-9),
    "gc_s": ("internal.metrics.jvmGCTime", 1e-3),
    "shuffle_write_bytes": ("internal.metrics.shuffle.write.bytesWritten", 1.0),
    "shuffle_records": ("internal.metrics.shuffle.write.recordsWritten", 1.0),
    "spill_bytes": ("internal.metrics.diskBytesSpilled", 1.0),
    "python_bytes_sent": ("data sent to Python workers", 1.0),
    "python_bytes_returned": ("data returned from Python workers", 1.0),
    "python_time_s": ("time to run Python workers", 1e-3),
}
SPAN_KEYS = ("tasks", *STAGE_METRICS)
_BY_ACC = {acc: (key, scale) for key, (acc, scale) in STAGE_METRICS.items()}


def span_of(group: str | None) -> str | None:
    """``"serve_tile#17"`` -> ``"serve_tile"``; None for untraced jobs."""
    if not group:
        return None
    return group.split("#", 1)[0]


def parse(lines) -> dict:
    """Fold event-log lines into per-call and per-span totals.

    Returns ``{"calls": {group: {"jobs", "stages", "tasks", metric...}},
    "spans": {span: {"calls", "jobs", "stages", "tasks", metric...}}}``.
    A stage shared by several jobs counts once, for the first job that
    submitted it."""
    stage_group: dict[int, str] = {}
    calls: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            calls[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None:
                continue
            c = calls[group]
            c["stages"] += 1
            c["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", ()):
                hit = _BY_ACC.get(acc.get("Name"))
                if hit is not None:
                    key, scale = hit
                    c[key] += float(acc.get("Value", 0)) * scale
    spans: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for group, c in calls.items():
        s = spans[span_of(group)]
        s["calls"] += 1
        for k, v in c.items():
            s[k] += v
    return {"calls": {g: dict(c) for g, c in calls.items()},
            "spans": {s: dict(v) for s, v in spans.items()}}


def parse_file(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def per_call(span_totals: dict) -> dict:
    """Mean per traced call of each span metric (0 when the span never ran)."""
    n = span_totals.get("calls", 0)
    return {k: (span_totals.get(k, 0.0) / n if n else 0.0) for k in SPAN_KEYS}
