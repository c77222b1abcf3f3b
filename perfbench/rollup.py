"""Pure helpers of the benchmark: order statistics, interval arithmetic,
span self times and the Spark event-log rollup.

Nothing here imports Spark; the unit test in ``perfbench/tests`` drives
every function on hand-made spans and a checked-in miniature event log.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

#: the tail of a sample is the highest percentile with at least this many
#: samples beyond it
TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values):
    """Highest nearest-rank percentile that has ``TAIL_BEYOND`` samples
    above it: ``(value, percentile, n)``, or ``(None, None, n)`` when the
    sample is too small to have such a percentile."""
    n = len(values)
    rank = n - TAIL_BEYOND  # 1-based rank with TAIL_BEYOND samples beyond
    if rank < 1:
        return None, None, n
    return sorted(values)[rank - 1], round(100.0 * rank / n, 2), n


# -- intervals ---------------------------------------------------------------

def union(intervals):
    """Merge ``(start, end)`` pairs into disjoint sorted intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def clip(intervals, start, end):
    """The parts of ``intervals`` inside ``[start, end]``."""
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def uncovered(start, end, covers):
    """Length of ``[start, end]`` not covered by any of ``covers``."""
    return (end - start) - length(clip(covers, start, end))


def self_times(spans, busy=()):
    """Self time per layer: each span's duration minus the part covered by
    its child spans or by ``busy`` intervals (Spark jobs), summed per
    ``layer``. Spans are dicts with ``id``, ``parent``, ``layer``,
    ``start`` and ``end``."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = defaultdict(float)
    for s in spans:
        covers = children[s["id"]] + list(busy)
        out[s["layer"]] += uncovered(s["start"], s["end"], covers)
    return dict(out)


# -- Spark event log ---------------------------------------------------------

def _acc(task_info, name):
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") == name:
            return float(a.get("Update") or 0)
    return 0.0


def read_event_log(path):
    """Jobs and stages from an uncompressed Spark event log.

    Returns ``{"jobs": {id: job}, "stages": {id: stage}}``; a job holds its
    ``group`` (``spark.jobGroup.id``), ``start``/``end`` in epoch seconds
    and ``stages``; a stage holds per-task run times and summed task
    metrics. Skipped stages run no task and never appear."""
    jobs, stages = {}, {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {
                    "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(e.get("Stage IDs", ())),
                }
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                _add_task(stages.setdefault(e["Stage ID"], _new_stage()), e)
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    return {"jobs": jobs, "stages": stages}


def _new_stage():
    return defaultdict(float, task_run_s=[])


def _add_task(stage, e):
    info = e["Task Info"]
    m = e.get("Task Metrics") or {}
    shuffle_read = m.get("Shuffle Read Metrics") or {}
    stage["tasks"] += 1
    stage["task_run_s"].append(m.get("Executor Run Time", 0) / 1000.0)
    stage["stage_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    stage["stage_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    stage["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    stage["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    stage["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    stage["shuffle_read_bytes"] += shuffle_read.get("Remote Bytes Read", 0) + shuffle_read.get(
        "Local Bytes Read", 0
    )
    stage["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    stage["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    stage["python_bytes"] += _acc(info, "data sent to Python workers") + _acc(
        info, "data returned from Python workers"
    )


#: summed stage metrics, reported as ``spark.<name>``
STAGE_SUMS = (
    "tasks", "stage_run_s", "stage_cpu_s", "gc_s", "input_bytes", "output_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "python_bytes",
)


def task_skew(stage):
    """Max ÷ median task run time of one stage (1.0 for a single task or
    an all-zero stage)."""
    t = stage["task_run_s"]
    med = statistics.median(t) if t else 0.0
    return max(t) / med if med > 0 else 1.0


def rollup_group(log, group, start=None, end=None):
    """Spark-side totals of the jobs tagged ``group``: job/stage counts,
    summed stage metrics, the union of job spans (``action_s``), the
    largest stage skew, and the job intervals themselves (``busy``) for
    self-time arithmetic. ``start``/``end`` restrict job spans to a window
    (e.g. a construction span) when counting ``jobs_in_window``."""
    jobs = [j for j in log["jobs"].values() if j["group"] == group]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [log["stages"][s] for s in stage_ids if s in log["stages"] and log["stages"][s]["tasks"]]
    busy = [(j["start"], j["end"]) for j in jobs]
    out = {
        "jobs": len(jobs),
        "stages": len(stages),
        "action_s": length(busy),
        "task_skew": max((task_skew(s) for s in stages), default=1.0),
        "busy": busy,
    }
    for k in STAGE_SUMS:
        out[k] = sum(s[k] for s in stages)
    if start is not None:
        out["jobs_in_window"] = sum(1 for j in jobs if start <= j["start"] <= end)
    return out
