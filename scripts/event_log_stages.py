#!/usr/bin/env python3
"""Fold a Spark event log into one row per job description (prepareWeb's are
`web:<stage>`): summed job wall time, jobs, tasks, executor CPU, shuffle, spill.
With --plans SUBSTRING, print instead the last formatted physical plan (AQE's
final one) of each SQL execution whose description contains SUBSTRING.
Usage: event_log_stages.py [--plans SUBSTRING] <log file | eventlog_v2_* dir |
  event log dir (newest)>
after a run with GRAFT_JAVA_OPTS="-Dspark.eventLog.enabled=true
  -Dspark.eventLog.compress=false -Dspark.eventLog.dir=file:/tmp/graft-events"."""
import argparse, json, os, sys

COLS = ["wall_s", "jobs", "tasks", "cpu_s", "shuf_read_mb", "shuf_write_mb", "spill_mb"]


def log_files(path):
    path = os.path.normpath(path)
    if os.path.isdir(path) and not os.path.basename(path).startswith("eventlog_v2_"):
        path = max((os.path.join(path, f) for f in os.listdir(path)), key=os.path.getmtime)
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]  # rolling log parts
    return [os.path.join(path, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]


def events(paths):
    for path in paths:
        if path.endswith((".lz4", ".lzf", ".snappy", ".zstd")):
            sys.exit(f"{path} is compressed: rerun with -Dspark.eventLog.compress=false")
        yield from map(json.loads, open(path))


def plans(paths, needle):
    """(execution id, description, plan) of each matching SQL execution: its
    start event carries the initial plan, each AQE update the re-planned one."""
    desc, plan = {}, {}
    for e in events(paths):
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            desc[e["executionId"]] = e.get("description") or "-"
        if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            plan[e["executionId"]] = e["physicalPlanDescription"]
    return [(x, desc.get(x, "-"), p) for x, p in plan.items() if needle in desc.get(x, "-")]


def fold(paths):
    rows, job_desc, stage_desc, start = {}, {}, {}, {}
    row = lambda d: rows.setdefault(d, dict.fromkeys(COLS, 0))
    for e in events(paths):
        kind, job = e["Event"], e.get("Job ID")
        if kind == "SparkListenerJobStart":
            d = job_desc[job] = (e.get("Properties") or {}).get("spark.job.description") or "-"
            start[job] = e["Submission Time"]
            stage_desc.update((s, d) for s in e["Stage IDs"])
            row(d)["jobs"] += 1
        elif kind == "SparkListenerJobEnd" and job in start:
            row(job_desc[job])["wall_s"] += (e["Completion Time"] - start.pop(job)) / 1e3
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            m, r = e["Task Metrics"], row(stage_desc.get(e["Stage ID"], "-"))
            rd, wr = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            r["tasks"] += 1
            r["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["shuf_read_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / 2**20
            r["shuf_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 2**20
            r["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
    return rows


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", metavar="SUBSTRING")
    ap.add_argument("log")
    args = ap.parse_args()
    if args.plans is not None:
        for x, d, p in plans(log_files(args.log), args.plans):
            print(f"== execution {x}: {d}\n{p}")
        sys.exit()
    print(f"{'description':<34}" + "".join(f"{c:>14}" for c in COLS))
    for d, r in fold(log_files(args.log)).items():
        print(f"{d[:34]:<34}" + "".join(f"{r[c]:>14}" if c in ("jobs", "tasks") else f"{r[c]:>14.2f}" for c in COLS))
