"""Fold a Spark event log into task metrics per job group (stdlib only).

The benchmark sets the job group of every traced span, so each group is
one span's work.  Spark must write the log uncompressed and unrolled
(`spark.eventLog.compress=false`, `spark.eventLog.rolling.enabled=false`).
"""

from __future__ import annotations

import json
import os

from .stats import median

_PY_RUN = "time to run Python workers"  # SQL metric of the Python runners, ms


def find_log(log_dir: str) -> str:
    """The one application log in `log_dir` (finished or in progress)."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {names}")
    return os.path.join(log_dir, names[0])


def _new() -> dict:
    return {"jobs": 0, "checkpoint_jobs": 0, "job_wall_s": 0.0, "tasks": 0,
            "failed_tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "python_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "output_mb": 0.0, "peak_exec_mem_mb": 0.0,
            "task_max_s": 0.0, "task_median_s": 0.0, "task_skew": 0.0,
            "_task_s": [], "_stage_s": {}}


def fold_lines(lines) -> dict[str, dict]:
    """Task metrics summed per job group; jobs without a group fold into
    the key "".  Times are seconds, sizes MiB.  `task_skew` is the largest
    longest-over-median task time among the group's stages of two or more
    tasks (1.0 when none has two); `checkpoint_jobs` counts the jobs that
    cut lineage (one per round of the iterative operators)."""
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, int]] = {}
    out: dict[str, dict] = {}
    mb = 1 << 20
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            job_start[ev["Job ID"]] = (group, ev["Submission Time"])
            g = out.setdefault(group, _new())
            g["jobs"] += 1
            names = [s.get("Stage Name", "") for s in ev.get("Stage Infos", [])]
            if any(n.startswith(("localCheckpoint ", "checkpoint "))
                   for n in names):
                g["checkpoint_jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            started = job_start.pop(ev["Job ID"], None)
            if started is not None:
                g = out.setdefault(started[0], _new())
                g["job_wall_s"] += (ev["Completion Time"] - started[1]) / 1e3
        elif kind == "SparkListenerTaskEnd":
            g = out.setdefault(stage_group.get(ev["Stage ID"], ""), _new())
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            g["tasks"] += 1
            if info.get("Failed") or info.get("Killed"):
                g["failed_tasks"] += 1
            run_s = m.get("Executor Run Time", 0) / 1e3
            g["_task_s"].append(run_s)
            g["_stage_s"].setdefault(ev["Stage ID"], []).append(run_s)
            g["run_s"] += run_s
            g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_mb"] += (sr.get("Local Bytes Read", 0)
                                     + sr.get("Remote Bytes Read", 0)) / mb
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
            g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / mb
            g["output_mb"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0) / mb
            g["peak_exec_mem_mb"] = max(
                g["peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / mb)
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == _PY_RUN:
                    g["python_s"] += float(acc.get("Update") or 0) / 1e3
    for g in out.values():
        ts = g.pop("_task_s")
        if ts:
            g["task_max_s"] = max(ts)
            g["task_median_s"] = median(ts)
        g["task_skew"] = max(
            [max(st) / median(st) for st in g.pop("_stage_s").values()
             if len(st) > 1 and median(st) > 0], default=1.0)
    return out


def fold(path: str) -> dict[str, dict]:
    with open(path, encoding="utf-8") as fd:
        return fold_lines(fd)


def combine(groups) -> dict:
    """Sum the folds of several groups (one span and its descendants)."""
    total = _new()
    del total["_task_s"], total["_stage_s"], total["task_median_s"]
    total["task_skew"] = 1.0
    for g in groups:
        for k in total:
            if k in ("peak_exec_mem_mb", "task_max_s", "task_skew"):
                total[k] = max(total[k], g[k])
            else:
                total[k] += g[k]
    return total
