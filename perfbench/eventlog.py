"""Per-layer numbers read back from the Spark event log of a traced run.

The traced run tags every step with the job group ``bench|<pass>|<step>``
(``harness.Recorder``). This module parses ``SparkListenerJobStart``,
``SparkListenerStageCompleted`` and ``SparkListenerTaskEnd`` events,
sums task metrics per job, and attributes each job to its group. Jobs a
streaming query runs carry the query's runId as their group and are
mapped back to the step that started the query. Jobs with no group —
for example jobs the package submits from its own thread pools, which do
not inherit the caller's job group — are counted as ``unattributed``
and assigned to the pass whose time window they started in.
"""

from __future__ import annotations

import json
from pathlib import Path

UNATTRIBUTED = "unattributed"
#: summed per job from SparkListenerTaskEnd
TASK_FIELDS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def find_log(eventlog_dir: Path, app_id: str) -> Path:
    matches = sorted(p for p in Path(eventlog_dir).iterdir() if p.name.startswith(app_id))
    if not matches:
        raise FileNotFoundError(f"no event log for {app_id} in {eventlog_dir}")
    return matches[0]


def read_events(path: Path):
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def jobs(events, aliases: dict | None = None) -> list[dict]:
    """One record per job: resolved group (or ``unattributed``),
    submission time (ms since the epoch), completed stages and the task
    metrics of its stages. ``aliases`` maps a raw job group (a streaming
    runId) to the group it stands for."""
    aliases = aliases or {}
    by_job: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            group = aliases.get(group, group)
            if not group or not (group.startswith("bench|") or group in aliases.values()):
                group = UNATTRIBUTED
            rec = {"job": ev["Job ID"], "group": group,
                   "submit_ms": ev.get("Submission Time", 0), "stages": 0}
            rec.update({k: 0 for k in TASK_FIELDS})
            by_job[ev["Job ID"]] = rec
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerStageCompleted":
            job = stage_job.get(ev["Stage Info"]["Stage ID"])
            if job in by_job:
                by_job[job]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if job not in by_job or not m:
                continue
            rec = by_job[job]
            rec["tasks"] += 1
            rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return [by_job[j] for j in sorted(by_job)]


def totals(job_records: list[dict]) -> dict:
    out = {"jobs": len(job_records), "stages": sum(j["stages"] for j in job_records)}
    for k in TASK_FIELDS:
        out[k] = sum(j[k] for j in job_records)
    return out


def by_group(job_records: list[dict]) -> dict:
    groups: dict[str, list] = {}
    for j in job_records:
        groups.setdefault(j["group"], []).append(j)
    return {g: totals(js) for g, js in groups.items()}


def per_layer(log: Path, rec, passes: list[dict], workload: str) -> dict:
    """Per-step and per-pass figures of a traced run, plus the flat
    metric set BENCHMARK.json lists as ``per_layer``."""
    from harness import STEPS, median, percentile

    records = jobs(read_events(log), rec.stream_runs)
    groups = by_group(records)
    pass_ids = [p["pass"] for p in passes]

    # per step: medians over the measured passes of the per-pass sums
    steps = {}
    for step in STEPS[workload]:
        rows = []
        for pid in pass_ids:
            spans = [s for s in rec.spans if s["pass"] == pid and s["step"] == step]
            g = groups.get(f"bench|{pid}|{step}", totals([]))
            rows.append({"build_s": sum(s.get("build_s", 0) for s in spans),
                         "action_s": sum(s.get("action_s", 0) for s in spans),
                         "jobs": g["jobs"], "stages": g["stages"], "tasks": g["tasks"],
                         "executor_cpu_s": g["executor_cpu_s"],
                         "shuffle_bytes": g["shuffle_read_bytes"] + g["shuffle_write_bytes"]})
        steps[step] = {k: median([r[k] for r in rows]) for k in rows[0]}
        steps[step]["jobs_per_pass"] = [r["jobs"] for r in rows]
        for name, values in rec.samples.items():
            if name.startswith(step + "."):
                key = name[len(step) + 1:]
                steps[step][key] = median(values)
                if len(values) >= 500:  # ten samples beyond the 98th percentile
                    steps[step][key + "_p98"] = percentile(values, 98)

    # per pass: everything the pass's groups ran, plus unattributed jobs
    # submitted inside the pass's time window
    per_pass = []
    for p in passes:
        mine = [j for j in records
                if j["group"].startswith(f"bench|{p['pass']}|")
                or (j["group"] == UNATTRIBUTED
                    and p["start"] * 1e3 <= j["submit_ms"] <= p["end"] * 1e3)]
        t = totals(mine)
        t["unattributed_jobs"] = sum(j["group"] == UNATTRIBUTED for j in mine)
        spans = [s for s in rec.spans if s["pass"] == p["pass"]]
        t["build_s"] = sum(s.get("build_s", 0) for s in spans)
        t["action_s"] = sum(s.get("action_s", 0) for s in spans)
        per_pass.append(t)

    units = {"build_s": "s", "action_s": "s", "jobs": "count", "stages": "count",
             "tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s",
             "gc_s": "s", "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
             "spill_bytes": "bytes", "unattributed_jobs": "count"}
    metrics = {k: (median([t[k] for t in per_pass]), u) for k, u in units.items()}
    metrics["traced_pass_s_p50"] = (median([p["wall_s"] for p in passes]), "s")
    for wl_steps in STEPS.values():
        for step in wl_steps:
            metrics[f"{step}.jobs"] = (steps[step]["jobs"] if step in steps else 0, "count")
    return {"metrics": metrics, "steps": steps, "per_pass": per_pass}


def print_steps(layers: dict) -> None:
    print(f"{'step':<50} {'build_s':>8} {'action_s':>8} {'jobs':>5} {'stages':>6} "
          f"{'cpu_s':>7} {'shuffle_B':>11}  extra")
    for step, v in layers["steps"].items():
        extra = " ".join(f"{k}={v[k]:.4g}" for k in sorted(v)
                         if k not in ("build_s", "action_s", "jobs", "stages", "tasks",
                                      "executor_cpu_s", "shuffle_bytes", "jobs_per_pass"))
        print(f"{step:<50} {v['build_s']:>8.3f} {v['action_s']:>8.3f} {v['jobs']:>5g} "
              f"{v['stages']:>6g} {v['executor_cpu_s']:>7.2f} {v['shuffle_bytes']:>11.0f}  {extra}")
    for k, (v, u) in layers["metrics"].items():
        if "." not in k:
            print(f"{k:<30} {v:>14.6g} {u}")
