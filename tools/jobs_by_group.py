"""Counts Spark jobs, stages and tasks per job group in an event log.

    python3 tools/jobs_by_group.py EVENT_LOG [--spans SPANS.jsonl]

EVENT_LOG is an uncompressed Spark event log: a file, a rolling log's
`eventlog_v2_*` directory, or the event log directory (its newest log is
read). Write one by running the program with

    -Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///some/dir
    -Dspark.eventLog.compress=false

Prints, per job group (jobs without a group under "(none)"): jobs, stages
that ran (skipped stages excluded), tasks, the summed wall time of the jobs
(submission to completion) and the call sites of the jobs' last stages,
most frequent first.

With --spans (the span file `perfbench/run.py --trace 1` writes), groups
named `span-<id>` are reported under their span's name instead, and a last
line gives jobs per traced pass.
"""
import argparse
import collections
import json
import os
import sys


def log_files(path):
    """The files of one event log, in order. `path` is a single-file log, a
    rolling log's `eventlog_v2_*` directory, or a directory holding logs
    (the newest is read)."""
    if not os.path.isdir(path):
        return [path]
    names = os.listdir(path)
    parts = [n for n in names if n.startswith("events_")]
    if parts:  # rolling log: events_<index>_<app id>
        parts.sort(key=lambda n: int(n.split("_")[1]))
        return [os.path.join(path, n) for n in parts]
    logs = [os.path.join(path, n) for n in names if not n.startswith(".")]
    if not logs:
        sys.exit(f"no event log in {path}")
    return log_files(max(logs, key=os.path.getmtime))


def read_jobs(files):
    """Returns {job id: job dict} with group, times, stages that ran, tasks."""
    jobs = {}
    stage_job = {}
    for path in files:
        with open(path, encoding="utf-8") as f:
            events = [json.loads(line) for line in f]
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                infos = {s["Stage ID"]: s["Stage Name"] for s in e.get("Stage Infos", [])}
                job = {
                    "group": props.get("spark.jobGroup.id") or "(none)",
                    "submitted": e.get("Submission Time"),
                    "completed": None,
                    "stages": 0,
                    "tasks": 0,
                    "call_site": infos[max(infos)] if infos else "",
                }
                jobs[e["Job ID"]] = job
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = job
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(e["Job ID"])
                if job is not None:
                    job["completed"] = e.get("Completion Time")
            elif kind == "SparkListenerStageCompleted":
                job = stage_job.get(e["Stage Info"]["Stage ID"])
                if job is not None:
                    job["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(e["Stage ID"])
                if job is not None:
                    job["tasks"] += 1
    return jobs


def read_spans(path):
    """Returns ({group: span name}, {group: pass}) from a span file."""
    names, passes = {}, {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = json.loads(line)
            names[f"span-{s['id']}"] = s["name"]
            passes[f"span-{s['id']}"] = s["pass"]
    return names, passes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("event_log")
    ap.add_argument("--spans", help="span file of a traced perfbench run")
    args = ap.parse_args()
    jobs = read_jobs(log_files(args.event_log))
    names, passes = read_spans(args.spans) if args.spans else ({}, {})

    rows = collections.defaultdict(lambda: {
        "jobs": 0, "stages": 0, "tasks": 0, "job_s": 0.0, "sites": collections.Counter()})
    for job in jobs.values():
        r = rows[names.get(job["group"], job["group"])]
        r["jobs"] += 1
        r["stages"] += job["stages"]
        r["tasks"] += job["tasks"]
        if job["submitted"] is not None and job["completed"] is not None:
            r["job_s"] += (job["completed"] - job["submitted"]) / 1000.0
        r["sites"][job["call_site"]] += 1

    print(f"{'group':<28} {'jobs':>6} {'stages':>7} {'tasks':>7} {'job_s':>8}  last-stage call sites")
    for group, r in sorted(rows.items(), key=lambda kv: (-kv[1]["jobs"], kv[0])):
        sites = ", ".join(f"{n}x {s}" for s, n in r["sites"].most_common())
        print(f"{group:<28} {r['jobs']:>6} {r['stages']:>7} {r['tasks']:>7} "
              f"{r['job_s']:>8.3f}  {sites}")
    if passes:
        traced = [j for j in jobs.values() if j["group"] in passes]
        n_passes = len({passes[j["group"]] for j in traced})
        if n_passes:
            print(f"jobs per traced pass: {len(traced) / n_passes:.1f} "
                  f"({len(traced)} jobs over {n_passes} passes)")


if __name__ == "__main__":
    main()
