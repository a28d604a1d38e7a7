#!/usr/bin/env python3
"""Per-row profile of a Spark event log.

Reads one uncompressed, non-rolled Spark event log and prints, per job
description (`graft.Bench` names a row's timed jobs after the row, its
warm-up jobs "warm-up <row>"): wall time, runs, jobs, stages, tasks,
task-seconds, driver time with no job running, shuffle read/write, spill
and input bytes, and per stage the max and median task time, labelled by
the operator scopes of the stage's RDDs. --plans DIR writes, per
description, the initial formatted plan and the final AQE plan of each SQL
execution of its last run. Usage and the Spark settings that write such a
log: README "Running".
"""
import argparse
import itertools
import json
import os
import re
import statistics
import sys

SQL = "org.apache.spark.sql.execution.ui.SparkListenerSQL"
# magic bytes of Spark's event log codecs: zstd, lz4, snappy, lzf
COMPRESSED = (b"\x28\xb5\x2f\xfd", b"LZ4Block", b"\xff\x06\x00\x00sNaPpY", b"ZV")


def mb(b):
    return f"{b / 1e6:.2f}MB"


def events(path):
    """The log's events. Exits on a rolled or compressed log or a foreign file."""
    if os.path.isdir(path) or "eventlog_v2_" in os.path.abspath(path):
        sys.exit(f"profile.py: {path} is a rolled event log; "
                 "rerun with spark.eventLog.rolling.enabled=false")
    with open(path, "rb") as f:
        if f.read(10).startswith(COMPRESSED) or re.search(r"\.(zstd|lz4|lzf|snappy)$", path):
            sys.exit(f"profile.py: {path} is a compressed event log; "
                     "rerun with spark.eventLog.compress=false")
        f.seek(0)
        events = map(parse, f)
        start = next(events, None)
        if not isinstance(start, dict) or start.get("Event") != "SparkListenerLogStart":
            sys.exit(f"profile.py: {path} is not a Spark event log")
        yield from (ev for ev in events if isinstance(ev, dict))


def parse(line):
    try:
        return json.loads(line)
    except ValueError:  # such as the torn last line of a live log
        return None


def scopes(stage):
    """The operator scopes of the stage's RDDs (WholeStageCodegen (n), Exchange, ...)."""
    names = []
    for rdd in sorted(stage.get("RDD Info", []), key=lambda r: r["RDD ID"]):
        scope = rdd.get("Scope")
        name = (json.loads(scope) if isinstance(scope, str) else scope or {}).get("name")
        if name and name not in names:
            names.append(name)
    return ", ".join(names) or stage.get("Stage Name", "?")


def volumes(metrics):
    """Shuffle read, shuffle write, spill and input bytes of a list of task metrics."""
    return [sum(m["Shuffle Read Metrics"]["Remote Bytes Read"] +
                m["Shuffle Read Metrics"]["Local Bytes Read"] for m in metrics),
            sum(m["Shuffle Write Metrics"]["Shuffle Bytes Written"] for m in metrics),
            sum(m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"] for m in metrics),
            sum(m["Input Metrics"]["Bytes Read"] for m in metrics)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--plans", metavar="DIR")
    a = ap.parse_args()
    jobs, stage_desc, stages, tasks, sqls = {}, {}, {}, {}, {}
    for ev in events(a.log):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sql = sqls.get(int(props.get("spark.sql.execution.id", -1)), {})
            desc = props.get("spark.job.description") or sql.get("desc") or "(none)"
            jobs[ev["Job ID"]] = [ev["Submission Time"], ev["Submission Time"], desc, None]
            stage_desc.update((sid, desc) for sid in ev["Stage IDs"])
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[(info["Stage ID"], info["Stage Attempt ID"])] = info
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            tasks.setdefault((ev["Stage ID"], ev["Stage Attempt ID"]), []).append(ev)
        elif kind == SQL + "ExecutionStart":
            plan = ev["physicalPlanDescription"]
            sqls[ev["executionId"]] = {"desc": ev["description"], "t": [ev["time"], ev["time"]],
                                       "plans": [plan, plan]}
        elif kind == SQL + "AdaptiveExecutionUpdate" and ev["executionId"] in sqls:
            sqls[ev["executionId"]]["plans"][1] = ev["physicalPlanDescription"]
        elif kind == SQL + "ExecutionEnd" and ev["executionId"] in sqls:
            sqls[ev["executionId"]]["t"][1] = ev["time"]
    # a run: a maximal stretch of jobs and SQL executions, in start order, of one description
    spans = sorted(list(jobs.values()) +
                   [s["t"] + [s["desc"], i] for i, s in sqls.items()], key=lambda s: s[:2])
    runs = [(d, list(r)) for d, r in itertools.groupby(spans, key=lambda s: s[2])]
    for desc in dict.fromkeys(d for d, _ in runs):
        mine = [r for d, r in runs if d == desc]
        wall = busy = 0
        for r in mine:
            wall += max(s[1] for s in r) - min(s[0] for s in r)
            end = None
            for t0, t1, _, sql in r:
                if sql is None:  # a job: add the part not already covered
                    busy += max(0, t1 - max(t0, end or t0))
                    end = max(end or t1, t1)
        keys = sorted(k for k in stages if stage_desc.get(k[0]) == desc)
        lines, total, durs = [], [0] * 4, []
        for k in keys:
            ts = tasks.get(k, [])
            dur = [(t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]) / 1e3 for t in ts]
            vol = volumes([t["Task Metrics"] for t in ts])
            total, durs = [x + y for x, y in zip(total, vol)], durs + dur
            lines.append(f"  stage {k[0]}.{k[1]}  tasks {len(ts)}  max {max(dur, default=0):.3f}s"
                         f"  median {statistics.median(dur) if dur else 0:.3f}s"
                         f"  shuffle r/w {mb(vol[0])}/{mb(vol[1])}  spill {mb(vol[2])}"
                         f"  input {mb(vol[3])}  [{scopes(stages[k])}]")
        njobs = sum(1 for j in jobs.values() if j[2] == desc)
        print(f"== {desc}: wall {wall / 1e3:.3f}s  runs {len(mine)}  jobs {njobs}"
              f"  stages {len(keys)}  tasks {len(durs)}  task-s {sum(durs):.3f}"
              f"  driver-no-job {(wall - busy) / 1e3:.3f}s  shuffle r/w {mb(total[0])}/"
              f"{mb(total[1])}  spill {mb(total[2])}  input {mb(total[3])}")
        print("\n".join(lines))
        if a.plans:
            out = []
            for *_, i in mine[-1]:
                if i is not None:
                    for label, plan in zip(("initial", "final"), sqls[i]["plans"]):
                        out += [f"== execution {i}: {label} plan ==", plan]
            if out:
                os.makedirs(a.plans, exist_ok=True)
                name = re.sub(r"[^\w.-]+", "_", desc)
                with open(os.path.join(a.plans, name + ".txt"), "w") as f:
                    f.write("\n".join(out) + "\n")


if __name__ == "__main__":
    main()
