#!/usr/bin/env python3
"""Parse a Spark event log into per-job wall/stage attribution.

Usage: python3 tools/joblog.py <eventlog-file> [min_ms]
       python3 tools/joblog.py --summary <eventlog-file>

Prints one line per job: submit->end wall ms, the job group/description
(Bench labels queries via the action call site), stage names and task
time. With --summary, prints one line per job description instead: the
number of jobs and of tasks (over the stages that ran) it started, then
the totals. Pure-stdlib; works on the uncompressed JSON event log Spark
writes when spark.eventLog.enabled=true.
"""
import json
import sys


def parse(lines):
    """The log's jobs and completed stages, each keyed by id."""
    jobs = {}
    stages = {}
    for line in lines:
        try:
            e = json.loads(line)
        except json.JSONDecodeError:
            continue
        t = e.get("Event")
        if t == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"],
                "desc": props.get("spark.job.description", "")[:120],
                "stages": [s["Stage ID"] for s in e.get("Stage Infos", [])],
                "callsite": (e.get("Stage Infos") or [{}])[-1]
                    .get("Details", "").split("\n")[0][:120],
            }
        elif t == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif t == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stages[si["Stage ID"]] = {
                "name": si["Stage Name"][:80],
                "tasks": si["Number of Tasks"],
            }
    return jobs, stages


def summary(jobs, stages):
    """(description, jobs, tasks) per job description, in order of first
    submission; a skipped stage never completes, so its tasks do not count."""
    rows = {}
    for jid in sorted(jobs):
        j = jobs[jid]
        row = rows.setdefault(j["desc"] or j["callsite"], [0, 0])
        row[0] += 1
        row[1] += sum(stages[s]["tasks"] for s in j["stages"] if s in stages)
    return [(desc, n, tasks) for desc, (n, tasks) in rows.items()]


def print_jobs(jobs, stages, min_ms):
    for jid in sorted(jobs):
        j = jobs[jid]
        if "end" not in j:
            continue
        ms = j["end"] - j["start"]
        if ms < min_ms:
            continue
        st = ", ".join(f'{stages.get(s, {}).get("name", "?")}'
                       f'[{stages.get(s, {}).get("tasks", "?")}]'
                       for s in j["stages"] if s in stages)
        print(f'job {jid:4d} {ms:7d} ms  {j["desc"] or j["callsite"]}')
        if st:
            print(f'              stages: {st[:200]}')


def print_summary(rows):
    print(f'{"jobs":>5} {"tasks":>6}  description')
    for desc, n, tasks in rows:
        print(f'{n:5d} {tasks:6d}  {desc}')
    print(f'{sum(r[1] for r in rows):5d} {sum(r[2] for r in rows):6d}  TOTAL')


def main(argv):
    summary_mode = "--summary" in argv
    args = [a for a in argv if a != "--summary"]
    if not args:
        sys.exit(__doc__)
    with open(args[0]) as f:
        jobs, stages = parse(f)
    if summary_mode:
        print_summary(summary(jobs, stages))
    else:
        print_jobs(jobs, stages, int(args[1]) if len(args) > 1 else 100)


if __name__ == "__main__":
    main(sys.argv[1:])
