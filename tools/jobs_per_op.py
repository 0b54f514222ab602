#!/usr/bin/env python3
"""Spark jobs, tasks and task time per benchmark op, from a Spark event
log of a traced perfbench run.

    python3 tools/jobs_per_op.py <spark event log> <perfbench plan.txt> [--jobs]

The event log is one file, or a rolling log's `eventlog_v2_*` directory.

Traced ops (perfbench/run.py --trace 1) run every Spark job under a job
group `<op id>|<span path>`; op ids count the warm-up ops, then every
pass's ops, in plan.txt order. This script maps each job to its op and
prints one row per traced op (jobs, tasks, summed task wall time in ms,
and the jobs that ran in its build and exec spans), then one row per
query name with the per-op medians. Jobs of untraced ops carry no
group and are counted as unattributed. With --jobs it also lists each
traced op's jobs (id, span, tasks, task-ms), which is how a repeated
job (a sampling pass, a re-run scan) shows up.

Recipe (the event log must be uncompressed):

    SPARK_GRAFT_EXTRA_CONF='spark.eventLog.enabled=true;spark.eventLog.dir=/tmp/ev;spark.eventLog.compress=false' \\
      python3 perfbench/run.py --workload curation_build --seed 1 --trace 1
    python3 tools/jobs_per_op.py /tmp/ev/eventlog_v2_* \\
      .bench_build/perfbench/runs/curation_build-seed1-trace1/plan.txt
"""
import json
import os
import re
import statistics
import sys


def read_plan(path):
    """[(op id, pass label, query name)] in op-id order."""
    ops = []
    with open(path) as fh:
        for line in fh:
            parts = line.split()
            if not parts:
                continue
            if parts[0] == "warmup":
                ops += [("warmup", q) for q in parts[1:]]
            elif parts[0] == "pass":
                ops += [(parts[1], q) for q in parts[3:]]
    return [(i, label, q) for i, (label, q) in enumerate(ops)]


def event_files(path):
    """A single-file log, or a rolling log directory's `events_<n>_*`
    files in order."""
    if not os.path.isdir(path):
        return [path]
    parts = [(int(m.group(1)), f) for f in os.listdir(path)
             for m in [re.match(r"events_(\d+)_", f)] if m]
    return [os.path.join(path, f) for _, f in sorted(parts)]


def read_events(path):
    files = event_files(path)
    if any(f.endswith((".zstd", ".lz4", ".snappy", ".lzf")) for f in files):
        sys.exit(f"{path}: compressed event log; rerun with spark.eventLog.compress=false")
    jobs = {}          # job id -> {"group": str|None, "tasks": int, "task_ms": int}
    stage_job = {}     # stage id -> job id (first job that lists it)
    for f in files:
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                                 "tasks": 0, "task_ms": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    info = ev["Task Info"]
                    jobs[jid]["tasks"] += 1
                    jobs[jid]["task_ms"] += max(0, info["Finish Time"] - info["Launch Time"])
    return jobs


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__)
    list_jobs = "--jobs" in argv
    ops = read_plan(args[1])
    jobs = read_events(args[0])
    per_op = {i: [] for i, _, _ in ops}
    unattributed = 0
    for jid in sorted(jobs):
        group = jobs[jid]["group"]
        op = None
        if group and "|" in group:
            head = group.split("|", 1)[0]
            op = int(head) if head.isdigit() else None
        if op in per_op:
            per_op[op].append((jid, group.split("|", 1)[1], jobs[jid]))
        else:
            unattributed += 1

    def phase(span, name):
        return span == name or span.startswith(name + "/")

    print(f"{'op':>4} {'pass':<8} {'query':<28} {'jobs':>5} {'tasks':>6} "
          f"{'task_ms':>8} {'build':>6} {'exec':>5}")
    by_name = {}
    for i, label, q in ops:
        js = per_op[i]
        if not js:
            continue
        row = (len(js), sum(j["tasks"] for _, _, j in js),
               sum(j["task_ms"] for _, _, j in js),
               sum(1 for _, s, _ in js if phase(s, "op/build")),
               sum(1 for _, s, _ in js if phase(s, "op/exec")))
        by_name.setdefault(q, []).append(row)
        print(f"{i:>4} {label:<8} {q:<28} {row[0]:>5} {row[1]:>6} {row[2]:>8} "
              f"{row[3]:>6} {row[4]:>5}")
        if list_jobs:
            for jid, span, j in js:
                print(f"{'':>14} job {jid:>5} {span:<36} tasks {j['tasks']:>4} "
                      f"task_ms {j['task_ms']:>6}")
    print()
    print(f"{'query':<28} {'ops':>4} {'jobs':>6} {'tasks':>6} {'task_ms':>8} "
          f"{'build':>6} {'exec':>5}   (medians per op)")
    for q in sorted(by_name):
        rows = by_name[q]
        med = [statistics.median(r[k] for r in rows) for k in range(5)]
        print(f"{q:<28} {len(rows):>4} {med[0]:>6g} {med[1]:>6g} {med[2]:>8g} "
              f"{med[3]:>6g} {med[4]:>5g}")
    traced = sum(len(v) for v in per_op.values())
    print(f"\n== {len(jobs)} jobs: {traced} in {sum(1 for v in per_op.values() if v)} "
          f"traced ops, {unattributed} unattributed (untraced ops, set-up) ==")


if __name__ == "__main__":
    main(sys.argv[1:])
