#!/usr/bin/env python3
"""Timeline of one Spark event log: where a run's wall time went.

Prints, in time order:

  - each SQL execution, with its duration and the innermost `graft.`
    frame of its call site (the operator that planned it);
  - each job, with its stage widths (tasks per stage that ran; skipped
    stages are left out) and the executor CPU seconds of its tasks;
  - the driver-only gaps between jobs: stretches where no job runs, so
    the time goes to planning, collects and driver-side work.

A summary line closes the output: jobs, stages, tasks, task CPU, the
span from the first job to the last, and the driver-only share of it.

Usage:

    python3 tools/eventlog_timeline.py <event log file or directory> [--min-gap S]

A directory means its newest application's log (rolling logs included).
`--min-gap` hides gaps shorter than S seconds in the listing (default
0.05); the summary counts all of them.

Capturing a log from a perfbench run, without touching `perfbench/`:
`run.py` passes its environment through to the JVM, and Spark reads
`spark.*` system properties, so

    mkdir -p /tmp/evlog
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/tmp/evlog \\
        -Dspark.eventLog.compress=false" \\
        python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 5 --trace 0
    python3 tools/eventlog_timeline.py /tmp/evlog

The same options work for any `sbt runMain` of Bench, Verify or SubsetCli.
"""
import json
import os
import sys


def innermost_graft_frame(details):
    """The first `graft.` frame of a call-site stack, innermost first."""
    for line in (details or "").splitlines():
        line = line.strip()
        if line.startswith("graft."):
            return line
    return "(no graft frame)"


def log_files(path):
    """The event files of one application: a plain log file, a rolling
    log directory (`eventlog_v2_<app>`, its `events_<n>_<app>` files in
    order), or a log directory, whose newest application is taken."""
    if not os.path.isdir(path):
        return [path]
    entries = [os.path.join(path, f) for f in os.listdir(path) if not f.startswith(".")]
    parts = [e for e in entries if os.path.basename(e).startswith("events_")]
    if parts:
        return sorted(parts, key=lambda e: int(os.path.basename(e).split("_")[1]))
    apps = [e for e in entries if not os.path.basename(e).startswith("appstatus_")]
    if not apps:
        sys.exit(f"no event log in {path}")
    return log_files(max(apps, key=os.path.getmtime))


def load(path):
    events = []
    for name in log_files(path):
        with open(name) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def timeline(events):
    sqls, jobs, stage_tasks, stage_cpu_ns = {}, {}, {}, {}
    for e in events:
        kind = e.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            sqls[e["executionId"]] = {"start": e["time"], "end": None,
                                      "frame": innermost_graft_frame(e.get("details")),
                                      "desc": e.get("description", "")}
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if e["executionId"] in sqls:
                sqls[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {"start": e["Submission Time"], "end": None,
                                 "stages": e.get("Stage IDs", []),
                                 "sql": props.get("spark.sql.execution.id")}
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            stage_tasks[sid] = stage_tasks.get(sid, 0) + 1
            cpu = (e.get("Task Metrics") or {}).get("Executor CPU Time", 0)
            stage_cpu_ns[sid] = stage_cpu_ns.get(sid, 0) + cpu
    return sqls, jobs, stage_tasks, stage_cpu_ns


def main():
    argv = sys.argv[1:]
    min_gap = 0.05
    if "--min-gap" in argv:
        i = argv.index("--min-gap")
        min_gap = float(argv[i + 1])
        del argv[i:i + 2]
    if len(argv) != 1:
        sys.exit(__doc__)
    sqls, jobs, stage_tasks, stage_cpu_ns = timeline(load(argv[0]))
    done = sorted((j for j in jobs.items() if j[1]["end"] is not None),
                  key=lambda j: j[1]["start"])
    if not done:
        sys.exit("no completed job in the log")
    t0 = min([j["start"] for _, j in done] + [s["start"] for s in sqls.values()])

    rows = []  # (time ms, order, text)
    for eid, s in sqls.items():
        dur = (s["end"] - s["start"]) / 1000 if s["end"] else float("nan")
        rows.append((s["start"], 0, f"sql {eid:>4} {dur:7.3f}s  {s['frame']}"))
    for jid, j in done:
        ran = [sid for sid in j["stages"] if sid in stage_tasks]
        widths = "+".join(str(stage_tasks[sid]) for sid in ran) or "-"
        cpu = sum(stage_cpu_ns.get(sid, 0) for sid in ran) / 1e9
        sql = f" sql {j['sql']}" if j["sql"] is not None else ""
        rows.append((j["start"], 1, f"  job {jid:>4} {(j['end'] - j['start']) / 1000:7.3f}s"
                                    f"  tasks {widths:<12} cpu {cpu:6.3f}s{sql}"))
    # driver-only gaps: stretches covered by no job's [start, end]
    gaps, busy_until = [], done[0][1]["start"]
    for jid, j in done:
        if j["start"] > busy_until:
            gaps.append((busy_until, j["start"], jid))
        busy_until = max(busy_until, j["end"])
    for start, end, jid in gaps:
        if (end - start) / 1000 >= min_gap:
            rows.append((start, 2, f"  gap      {(end - start) / 1000:7.3f}s  driver only,"
                                   f" before job {jid}"))
    for t, _, text in sorted(rows):
        print(f"{(t - t0) / 1000:9.3f}  {text}")

    span = (busy_until - done[0][1]["start"]) / 1000
    driver = sum(end - start for start, end, _ in gaps) / 1000
    stages = sum(1 for _, j in done for sid in j["stages"] if sid in stage_tasks)
    tasks = sum(stage_tasks.values())
    cpu = sum(stage_cpu_ns.values()) / 1e9
    share = driver / span if span else 0.0
    print(f"summary: {len(sqls)} sql, {len(done)} jobs, {stages} stages, {tasks} tasks,"
          f" task cpu {cpu:.3f}s, job span {span:.3f}s, driver-only {driver:.3f}s"
          f" ({share:.0%})")


if __name__ == "__main__":
    main()
