"""Fold Spark's uncompressed event log into one row per job description.

The benchmark tags every call with ``setJobDescription("<workload>/
<layer>")``; this module reads the JSON-lines event log after the
session stops and sums, per description, the task metrics (run time,
GC, shuffle write, spill) and the Python-worker SQL metrics of the
stages those jobs ran. Task skew is max/median task run time in the
description's busiest stage.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

# SQL metric name in the event log → ledger key
PYTHON_METRICS = {
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """{description: {metric: value}}; untagged jobs fold under ""."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    stage_desc: dict[int, str] = {}
    rows: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    task_ms: dict[tuple[str, int], list[float]] = defaultdict(list)
    with open(paths[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                for sid in e["Stage IDs"]:
                    stage_desc[sid] = desc
                rows[desc]["jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                desc = stage_desc.get(e["Stage ID"], "")
                tm = e.get("Task Metrics") or {}
                r = rows[desc]
                run = tm.get("Executor Run Time", 0)
                r["run_s"] += run / 1000
                r["gc_s"] += tm.get("JVM GC Time", 0) / 1000
                sw = tm.get("Shuffle Write Metrics") or {}
                r["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                r["shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
                r["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                task_ms[(desc, e["Stage ID"])].append(run)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                r = rows[stage_desc.get(info["Stage ID"], "")]
                for acc in info.get("Accumulables", []):
                    key = PYTHON_METRICS.get(acc.get("Name"))
                    if key:
                        r[key] += _num(acc.get("Value"))
    for desc, r in rows.items():
        r["task_skew"] = _skew(
            [ts for (d, _), ts in task_ms.items() if d == desc])
    return {d: dict(r) for d, r in rows.items()}


def _skew(stages: list[list[float]]) -> float:
    """max/median task time of the stage with the most task time, over
    stages with at least two tasks; 1.0 when there is none."""
    multi = [ts for ts in stages if len(ts) >= 2]
    if not multi:
        return 1.0
    busiest = max(multi, key=sum)
    med = statistics.median(busiest)
    return max(busiest) / med if med > 0 else 1.0


def total(rows: dict[str, dict[str, float]], key: str) -> float:
    return sum(r.get(key, 0.0) for r in rows.values())
