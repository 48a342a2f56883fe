#!/usr/bin/env python3
"""One line per Spark job of a plain-JSON Spark event log.

    python3 tools/joblog.py <event log file or dir> [--from-job N] [--to-job M]

For each job it prints the job id, its call site, the stages and tasks it
ran (stages skipped because their shuffle output already existed are not
counted), the executor CPU of those tasks, whether the job is a broadcast
build (its call site runs through `SQLExecution.withThreadLocalCaptured`,
the thread that `BroadcastExchangeExec` builds a relation on) and what the
stages it ran read:

    local       a LocalTableScan or a driver-side parallelize
    checkpoint  a Dataset checkpoint an earlier job filled
    cache       a cached Dataset an earlier job filled
    scan        a file scan

A footer sums jobs, broadcast builds, stages, tasks and CPU. Given a
directory of logs, the newest is read; a rolling log (an `eventlog_v2_*`
directory, Spark's default) is read part by part. The log must be
uncompressed (`spark.eventLog.compress=false`).
"""
import argparse
import json
import os
import sys
from collections import defaultdict

BROADCAST_MARK = "withThreadLocalCaptured"


def scope_name(rdd):
    try:
        return json.loads(rdd.get("Scope") or "{}").get("name", "")
    except ValueError:
        return ""


CHECKPOINT_RDDS = ("LocalCheckpointRDD", "ReliableCheckpointRDD")


def persisted(rdd):
    sl = rdd.get("Storage Level") or {}
    return bool(sl.get("Use Memory") or sl.get("Use Disk"))


def source_kind(rdd):
    """Kind of a parentless RDD."""
    name = rdd.get("Name", "")
    scope = scope_name(rdd)
    if name in CHECKPOINT_RDDS:
        return "checkpoint"
    if scope.startswith("LocalTableScan") or name == "ParallelCollectionRDD":
        return "local"
    if name == "FileScanRDD" or "Scan" in scope:
        return "scan"
    return scope or name


def stage_roots(stage, filled):
    """Kinds of what a stage reads: walk its RDDs from the top down to
    parentless RDDs, stopping at a persisted RDD an earlier job already
    computed. Dataset.checkpoint persists the `map` that copies the
    plan's rows (and, once checkpointed, reads a checkpoint RDD); any
    other persisted RDD is a cached Dataset. Parents outside the stage
    sit across a shuffle and are counted with their own stage, if it ran."""
    rdds = {r["RDD ID"]: r for r in stage.get("RDD Info", [])}
    below = {p for r in rdds.values() for p in r.get("Parent IDs", [])}
    stack = [i for i in rdds if i not in below]
    kinds, seen = set(), set()
    while stack:
        i = stack.pop()
        if i in seen or i not in rdds:
            continue
        seen.add(i)
        r = rdds[i]
        parents = r.get("Parent IDs", [])
        if persisted(r) and i in filled:
            ckpt = scope_name(r) == "map" or any(
                rdds.get(p, {}).get("Name") in CHECKPOINT_RDDS for p in parents)
            kinds.add("checkpoint" if ckpt else "cache")
        elif not parents:
            kinds.add(source_kind(r))
        else:
            stack.extend(parents)
    return kinds


def log_files(path):
    """The files of one application's log, in order. `path` is a log file,
    a rolling log's `eventlog_v2_*` directory, or a directory of logs
    (the newest is read)."""
    if not os.path.isdir(path):
        return [path]
    if os.path.basename(os.path.normpath(path)).startswith("eventlog_v2_"):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        # events_<n>_<app id>: roll in index order
        return [os.path.join(path, f)
                for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    entries = [os.path.join(path, f) for f in os.listdir(path)
               if not f.startswith(".")]
    if not entries:
        sys.exit(f"no event log in {path}")
    return log_files(max(entries, key=os.path.getmtime))


def read_events(path):
    for p in log_files(path):
        with open(p, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--from-job", type=int, default=None)
    ap.add_argument("--to-job", type=int, default=None)
    a = ap.parse_args()

    jobs = {}
    stage_job = {}
    stage_info = {}                  # stage id -> StageInfo at job start
    ran = defaultdict(set)           # job -> executed stage ids
    tasks = defaultdict(int)         # job -> finished tasks
    cpu_ns = defaultdict(int)        # job -> executor CPU ns
    filled = set()                   # persisted RDDs a finished job computed
    for e in read_events(a.log):
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            infos = e.get("Stage Infos", [])
            props = e.get("Properties") or {}
            details = " ".join(st.get("Details", "") for st in infos)
            last = max(infos, key=lambda st: st["Stage ID"]) if infos else {}
            jobs[jid] = {
                "site": props.get("callSite.short") or last.get("Stage Name", "?"),
                "broadcast": BROADCAST_MARK in details,
                "roots": [],
            }
            for st in infos:
                stage_job[st["Stage ID"]] = jid
                stage_info[st["Stage ID"]] = st
        elif ev == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_job:
                ran[stage_job[sid]].add(sid)
        elif ev == "SparkListenerTaskEnd":
            jid = stage_job.get(e.get("Stage ID"))
            if jid is None:
                continue
            tasks[jid] += 1
            m = e.get("Task Metrics") or {}
            cpu_ns[jid] += int(m.get("Executor CPU Time", 0))
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jid = e["Job ID"]
            kinds = set()
            for sid in ran[jid]:
                kinds |= stage_roots(stage_info[sid], filled)
            jobs[jid]["roots"] = sorted(kinds)
            for sid in ran[jid]:
                filled |= {r["RDD ID"] for r in stage_info[sid].get("RDD Info", [])
                           if persisted(r)}

    sel = [j for j in sorted(jobs)
           if (a.from_job is None or j >= a.from_job)
           and (a.to_job is None or j <= a.to_job)]
    print(f"{'job':>5} {'stages':>6} {'tasks':>5} {'cpu_s':>7} {'bcast':>5}  {'roots':<24} call site")
    tot = defaultdict(float)
    for j in sel:
        d = jobs[j]
        c = cpu_ns[j] / 1e9
        print(f"{j:>5} {len(ran[j]):>6} {tasks[j]:>5} {c:>7.3f} "
              f"{'yes' if d['broadcast'] else '':>5}  {','.join(d['roots']):<24} {d['site']}")
        tot["jobs"] += 1
        tot["bcast"] += d["broadcast"]
        tot["stages"] += len(ran[j])
        tot["tasks"] += tasks[j]
        tot["cpu"] += c
    print(f"total: {int(tot['jobs'])} jobs ({int(tot['bcast'])} broadcast builds), "
          f"{int(tot['stages'])} stages, {int(tot['tasks'])} tasks, {tot['cpu']:.3f} executor CPU s")


if __name__ == "__main__":
    main()
