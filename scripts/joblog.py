#!/usr/bin/env python3
"""Summarize a Spark event log: per-job wall time + description, per-stage
task totals and task skew. Usage: joblog.py <eventlog file> [minSec]

The log must be plain JSON lines: Spark 4 compresses event logs with zstd
by default, so write it with `spark.eventLog.compress=false` or unpack it
first (`zstd -dc events_1_... > events.jsonl`).

Each stage line gives its wall time, task count and `max_task_share`: its
largest task's executor run time over the summed run time of its tasks.
A stage that lasts at least 100 ms with a share above 0.5 ran most of its
work in one task while the other cores waited; it is flagged `SKEW`."""
import json, sys

SKEW_MIN_MS = 100
SKEW_SHARE = 0.5


def parse(lines):
    """(jobs, stages) from event-log lines: jobs by id with submission and
    completion time, description and stage ids; stages by id with name,
    task count, wall ms and the run times of their ended tasks."""
    jobs = {}
    stages = {}
    task_ms = {}
    for line in lines:
        try:
            e = json.loads(line)
        except json.JSONDecodeError:
            continue
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {
                "t0": e["Submission Time"],
                "desc": (e.get("Properties") or {}).get("spark.job.description", ""),
                "stages": [s["Stage ID"] for s in e.get("Stage Infos", [])],
            }
        elif ev == "SparkListenerJobEnd":
            j = jobs.get(e["Job ID"])
            if j: j["t1"] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stages[si["Stage ID"]] = {
                "name": si["Stage Name"].split("\n")[0][:90],
                "tasks": si["Number of Tasks"],
                "ms": si.get("Completion Time", 0) - si.get("Submission Time", 0),
            }
        elif ev == "SparkListenerTaskEnd":
            run = (e.get("Task Metrics") or {}).get("Executor Run Time", 0)
            task_ms.setdefault(e["Stage ID"], []).append(run)
    for sid, m in stages.items():
        m["task_ms"] = task_ms.get(sid, [])
    return jobs, stages


def max_task_share(task_ms):
    """The largest task's run time over the stage's summed task run time;
    None when the stage's tasks ran for 0 ms in all."""
    total = sum(task_ms)
    return max(task_ms) / total if total > 0 else None


def skewed(stage):
    share = max_task_share(stage["task_ms"])
    return stage["ms"] >= SKEW_MIN_MS and share is not None and share > SKEW_SHARE


def report(jobs, stages, min_sec=0.0, out=sys.stdout):
    total = 0
    rows = []
    for jid, j in sorted(jobs.items()):
        if "t1" not in j: continue
        sec = (j["t1"] - j["t0"]) / 1000.0
        total += sec
        rows.append((sec, jid, j))
    flagged = [sid for sid, m in sorted(stages.items()) if skewed(m)]
    print(f"{len(rows)} jobs, sum of job wall {total:.2f}s; {len(flagged)} skewed stages "
          f"(>= {SKEW_MIN_MS} ms, max_task_share > {SKEW_SHARE}): {flagged}", file=out)
    for sec, jid, j in rows:
        if sec < min_sec: continue
        print(f"job {jid:4d} {sec:7.3f}s  {j['desc'][:70]}", file=out)
        for sid in j["stages"]:
            m = stages.get(sid)
            if m:
                share = max_task_share(m["task_ms"])
                share_s = f"{share:5.2f}" if share is not None else "    -"
                flag = " SKEW" if skewed(m) else ""
                print(f"    stage {sid:4d} {m['ms']/1000:7.3f}s {m['tasks']:4d} tasks "
                      f"max_task_share {share_s}{flag}  {m['name']}", file=out)


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        parsed = parse(f)
    report(*parsed, min_sec=float(sys.argv[2]) if len(sys.argv) > 2 else 0.0)
