"""Fold a Spark event log (JSON lines, uncompressed) into per-op task
statistics.

Ops are given as job-id ranges ``(label, first_job, end_job)``: the
benchmark runs one op at a time, so every job started between two ops'
boundaries belongs to the op in between — including jobs started from
driver threads, which carry no job group. Tasks map to jobs through the
stage ids each ``SparkListenerJobStart`` lists; a stage listed by several
jobs belongs to the first (later jobs skip it).
"""

from __future__ import annotations

import bisect
import json
import statistics

FIELDS = (
    "jobs", "stages", "tasks", "cpu_s", "run_s", "deser_s", "gc_s",
    "sched_delay_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "bytes_read", "records_read", "bytes_written",
)


def _empty() -> dict:
    out = {k: 0 for k in FIELDS}
    out.update(skew=1.0, groups=set(), _runs={})
    return out


def parse(path: str, spans: list[tuple[str, int, int]]) -> dict[str, dict]:
    """Per-label totals over the label's jobs. ``skew`` is the largest
    max/median task run time over the label's stages with at least two
    tasks; ``groups`` holds the job groups seen on the label's jobs."""
    spans = sorted(spans, key=lambda s: s[1])
    starts = [s[1] for s in spans]
    out = {label: _empty() for label, _, _ in spans}

    def label_of(job: int) -> str | None:
        i = bisect.bisect_right(starts, job) - 1
        if i >= 0 and job < spans[i][2]:
            return spans[i][0]
        return None

    stage_label: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                label = label_of(ev["Job ID"])
                if label is None:
                    continue
                rec = out[label]
                rec["jobs"] += 1
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    rec["groups"].add(group)
                for sid in ev["Stage IDs"]:
                    stage_label.setdefault(sid, label)
            elif kind == "SparkListenerTaskEnd":
                label = stage_label.get(ev["Stage ID"])
                if label is None:
                    continue
                _add_task(out[label], ev)
    for rec in out.values():
        runs = rec.pop("_runs")
        rec["stages"] = len(runs)
        for times in runs.values():
            if len(times) >= 2:
                med = statistics.median(times)
                if med > 0:
                    rec["skew"] = max(rec["skew"], max(times) / med)
    return out


def _add_task(rec: dict, ev: dict) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    deser_ms = m.get("Executor Deserialize Time", 0)
    rec["tasks"] += 1
    rec["_runs"].setdefault(ev["Stage ID"], []).append(run_ms)
    rec["run_s"] += run_ms / 1e3
    rec["deser_s"] += deser_ms / 1e3
    rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    # the Spark UI's scheduler delay: task duration not spent deserializing,
    # running, serializing the result or fetching it
    duration = info["Finish Time"] - info["Launch Time"]
    getting = info.get("Getting Result Time") or 0
    fetch = info["Finish Time"] - getting if getting > 0 else 0
    delay = duration - run_ms - deser_ms - m.get("Result Serialization Time", 0) - fetch
    rec["sched_delay_s"] += max(0, delay) / 1e3
    sr = m.get("Shuffle Read Metrics") or {}
    rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    inp = m.get("Input Metrics") or {}
    rec["bytes_read"] += inp.get("Bytes Read", 0)
    rec["records_read"] += inp.get("Records Read", 0)
    rec["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
