#!/usr/bin/env python3
"""Summarize a Spark event log: work per job group, layout scans per query.

Usage:
    python3 tools/joblog.py <event log file or directory>

Reads every event log file under the given path (a `.zstd` file through
the `zstd` command-line tool, any other file as plain text), one
application per file, and prints two tables per application:

* per job group (`spark.jobGroup.id`; `-` for jobs without one): jobs,
  stages run, tasks and executor CPU seconds;
* per query: its description, jobs, stages run, and the stages and
  tasks whose RDD scopes name a `BatchScan graft_*` (the graft layout
  sources' scan nodes). A query is
  a SQL execution; jobs run without one (`queryExecution.toRdd`, as the
  benchmark's reads do) are one query per job group, shown as
  `group <id>`. A layout read that Spark reuses shows once; one that it
  does not shows once per plan arm that reads it.

To get an event log of a benchmark run without editing the benchmark,
pass Spark's settings as JVM system properties:

    mkdir -p /tmp/evlog
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
        -Dspark.eventLog.dir=file:/tmp/evlog" \\
        python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0
    python3 tools/joblog.py /tmp/evlog

Spark 4 compresses event logs with zstd by default (`*.zstd`); add
`-Dspark.eventLog.compress=false` for a plain-text log.
"""

import argparse
import json
import os
import subprocess
import sys
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SCAN_PREFIX = "BatchScan graft_"


def log_files(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        found += [os.path.join(root, f) for f in sorted(files)
                  if not f.startswith(".") and not f.endswith(".crc")]
    return found


def lines(path):
    if path.endswith(".zstd"):
        out = subprocess.run(["zstd", "-dcq", path], check=True,
                             stdout=subprocess.PIPE).stdout
        yield from out.decode("utf-8").splitlines()
    elif path.endswith((".lz4", ".lzf", ".snappy")):
        sys.exit(f"{path}: only zstd or plain-text event logs are read")
    else:
        with open(path, encoding="utf-8") as f:
            yield from f


def scope_names(stage_info):
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            yield json.loads(scope).get("name", "")


class App:
    def __init__(self, name):
        self.name = name
        self.job_group = {}      # job id -> group
        self.job_exec = {}       # job id -> SQL execution id
        self.stage_job = {}      # stage id -> first job that lists it
        self.stage_scans = {}    # stage id -> names a matching scan
        self.stages_run = set()  # (stage id, attempt) submitted
        self.stage_tasks = defaultdict(int)
        self.stage_cpu_ns = defaultdict(int)
        self.exec_desc = {}

    def feed(self, ev):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            props = ev.get("Properties") or {}
            self.job_group[job] = props.get("spark.jobGroup.id") or "-"
            self.job_exec[job] = props.get("spark.sql.execution.id")
            for sid in ev.get("Stage IDs", []):
                self.stage_job.setdefault(sid, job)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            self.stages_run.add((sid, info.get("Stage Attempt ID", 0)))
            self.stage_scans[sid] = any(
                n.startswith(SCAN_PREFIX) for n in scope_names(info))
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            self.stage_tasks[sid] += 1
            metrics = ev.get("Task Metrics") or {}
            self.stage_cpu_ns[sid] += metrics.get("Executor CPU Time", 0)
        elif kind == SQL_START:
            self.exec_desc[str(ev["executionId"])] = ev.get("description", "")

    def report(self):
        groups = defaultdict(lambda: [set(), 0, 0, 0])
        execs = defaultdict(lambda: [set(), 0, 0, 0])
        for sid, _ in sorted(self.stages_run):
            job = self.stage_job.get(sid)
            if job is None:
                continue
            g = groups[self.job_group[job]]
            g[0].add(job)
            g[1] += 1
            g[2] += self.stage_tasks[sid]
            g[3] += self.stage_cpu_ns[sid]
            eid = self.job_exec.get(job)
            e = execs[eid if eid is not None
                      else "group " + self.job_group[job]]
            e[0].add(job)
            e[1] += 1
            if self.stage_scans.get(sid):
                e[2] += 1
                e[3] += self.stage_tasks[sid]
        print(f"== {self.name}")
        print(f"{'job group':<40} {'jobs':>6} {'stages':>7} {'tasks':>7} "
              f"{'cpu_s':>8}")
        for name, (jobs, stages, tasks, cpu) in sorted(groups.items()):
            print(f"{name[:40]:<40} {len(jobs):>6} {stages:>7} {tasks:>7} "
                  f"{cpu / 1e9:>8.2f}")
        print()
        print(f"{'query':>5} {'jobs':>5} {'stages':>7} {'scan_stages':>11} "
              f"{'scan_tasks':>10}  description")

        def order(kv):
            return (0, int(kv[0]), "") if kv[0].isdigit() else (1, 0, kv[0])
        for eid, (jobs, stages, scans, scan_tasks) in sorted(
                execs.items(), key=order):
            desc = " ".join(self.exec_desc.get(eid, eid).split())[:60]
            label = eid if eid.isdigit() else "-"
            print(f"{label:>5} {len(jobs):>5} {stages:>7} {scans:>11} "
                  f"{scan_tasks:>10}  {desc}")
        print()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("path", help="event log file or directory")
    args = ap.parse_args()
    files = log_files(args.path)
    if not files:
        sys.exit(f"{args.path}: no event log files")
    for f in files:
        app = App(os.path.basename(f))
        for line in lines(f):
            line = line.strip()
            if line:
                app.feed(json.loads(line))
        app.report()


if __name__ == "__main__":
    main()
