#!/usr/bin/env python3
"""Per-action job table from a Spark event log.

Usage: python3 tools/joblog.py <event log> [--start REGEX] [--segment N]

Prints one line per SQL execution (nested executions fold into their
root), in the order they started: the call site, the Spark jobs it ran,
their tasks, its wall time in ms, the shuffle bytes its tasks wrote and
the task-result bytes the driver fetched. A job that ran outside any SQL
execution (a parquet footer read, an action on an RDD) is a line of its
own, marked `[job]`. A last line gives the totals.

An action run by `Dispatch.scanOnce` (the library's one-job driver
reads) is shown with its caller: `save at Dispatch.scala:48 <
Fuzzy.scala:198`.

`--start REGEX` cuts the log into segments: a segment begins at each
line whose long call site (the stack Spark records for the action)
matches REGEX, and what precedes the first match is dropped. `--segment
N` prints the N-th segment only (0-based; negative counts from the end);
without it, every segment is printed with its own totals.

A plain log is read directly, a `.zstd` log through the `zstd` CLI. A
directory is read as a rolling log (its `events_<n>_*` parts in order)
when it holds one, else as its newest entry, so the `spark.eventLog.dir`
of a single run can be passed as it is.

Capturing a log needs no code change, only Spark settings, e.g. for the
import benchmark (a segment there also holds the job's output checks,
the `Workloads.scala` lines after its last write):

    mkdir -p /tmp/ev
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.dir=/tmp/ev -Dspark.eventLog.compress=false" \\
      python3 perfbench/run.py --workload import_fuzzy --seed 3 \\
      --seconds 10 --trace 0
    # one segment per import job: the cold one, then the warm ones
    python3 tools/joblog.py /tmp/ev --start 'CsvSource\\$\\.read\\(' --segment 1
    # dedup jobs begin with the audit
    python3 tools/joblog.py /tmp/ev --start 'DedupAudit\\$\\.audit\\(' --segment 1
"""
import argparse
import json
import os
import re
import subprocess
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def lines(path):
    if os.path.isdir(path):
        names = os.listdir(path)
        # a rolling log (Spark's default): its parts, in order
        parts = sorted((n for n in names if n.startswith("events_")),
                       key=lambda n: int(n.split("_")[1]))
        if parts:
            return [l for p in parts for l in lines(os.path.join(path, p))]
        files = [os.path.join(path, n) for n in names if not n.startswith(".")]
        return lines(max(files, key=os.path.getmtime))
    if path.endswith(".zstd") or path.endswith(".zst"):
        out = subprocess.run(["zstd", "-dc", path], check=True,
                             capture_output=True, text=True).stdout
        return out.splitlines()
    with open(path) as f:
        return f.read().splitlines()


class Action:
    def __init__(self, kind, short, long, start):
        self.kind, self.short, self.long = kind, short, long
        self.start, self.end = start, start
        self.jobs = self.tasks = self.shuffle = self.result = 0


def actions(events):
    """Actions in start order: SQL executions by root id, then
    execution-less jobs."""
    roots = {}        # execution id -> root execution id
    by_exec = {}      # root execution id -> Action
    by_job = {}       # job id -> Action
    stage_owner = {}  # stage id -> Action
    out = []
    for e in events:
        kind = e.get("Event")
        if kind == SQL_START:
            eid = e["executionId"]
            root = e.get("rootExecutionId", eid)
            root = roots.get(root, root)
            roots[eid] = root
            if root not in by_exec:
                a = Action("sql", e.get("description", ""),
                           e.get("details", ""), e["time"])
                by_exec[root] = a
                out.append(a)
        elif kind == SQL_END:
            a = by_exec.get(roots.get(e["executionId"], e["executionId"]))
            if a is not None:
                a.end = max(a.end, e["time"])
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            a = None
            if eid is not None:
                a = by_exec.get(roots.get(int(eid), int(eid)))
            if a is None:
                infos = e.get("Stage Infos") or [{}]
                last = max(infos, key=lambda s: s.get("Stage ID", 0))
                a = Action("rdd", last.get("Stage Name", ""),
                           last.get("Details", ""), e["Submission Time"])
                out.append(a)
            a.jobs += 1
            by_job[e["Job ID"]] = a
            for sid in e.get("Stage IDs", []):
                stage_owner.setdefault(sid, a)
        elif kind == "SparkListenerJobEnd":
            a = by_job.get(e["Job ID"])
            if a is not None:
                a.end = max(a.end, e["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            a = stage_owner.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if a is None or m is None:
                continue
            a.tasks += 1
            a.result += m.get("Result Size", 0)
            a.shuffle += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    return out


def segments(acts, start):
    if start is None:
        return [acts]
    rx = re.compile(start)
    segs = []
    for a in acts:
        if rx.search(a.long):
            segs.append([])
        if segs:
            segs[-1].append(a)
    return segs


HELPER = "Dispatch.scala"
FRAME = re.compile(r"\(([^():]+):(\d+)\)")


def site(a):
    short = a.short if a.kind == "sql" else f"[job] {a.short}"
    if HELPER not in short:
        return short
    for f, n in FRAME.findall(a.long):
        if f != HELPER and not f.startswith("DataFrameWriter"):
            return f"{short} < {f}:{n}"
    return short


def show(seg, title):
    print(title)
    head = f"{'action (call site)':<58} {'jobs':>4} {'tasks':>5} {'ms':>6}"
    print(f"{head} {'shuffle B':>10} {'result B':>10}")
    tot = Action("", "total", "", 0)
    for a in seg:
        print(f"{site(a)[:58]:<58} {a.jobs:>4} {a.tasks:>5} {a.end - a.start:>6}"
              f" {a.shuffle:>10} {a.result:>10}")
        tot.jobs += a.jobs
        tot.tasks += a.tasks
        tot.end += a.end - a.start
        tot.shuffle += a.shuffle
        tot.result += a.result
    print(f"{'total (' + str(len(seg)) + ' actions)':<58} {tot.jobs:>4}"
          f" {tot.tasks:>5} {tot.end:>6} {tot.shuffle:>10} {tot.result:>10}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--start")
    ap.add_argument("--segment", type=int)
    a = ap.parse_args()
    events = [json.loads(l) for l in lines(a.log) if l.strip()]
    segs = segments(actions(events), a.start)
    if not segs:
        sys.exit("joblog: no action matches --start")
    if a.segment is not None:
        show(segs[a.segment], f"segment {a.segment} of {len(segs)}")
    else:
        for i, s in enumerate(segs):
            show(s, f"segment {i} of {len(segs)}")
            print()


if __name__ == "__main__":
    main()
