#!/usr/bin/env python3
"""Per-job attribution from a Spark event log.

    python3 scripts/eventlog_jobs.py <event log file or dir> [...] [--top N]

Groups the log's jobs by who ran them and where: the `perfbench.tag`
local property when a job carries one, else its scheduler pool (pools
named `serving-*` fold into `serving`, no pool is `default`), and the
call site: the description of the job's SQL execution (the action that
ran it, e.g. `collect at PlugRunner.scala:600`, also for the jobs AQE
submits from its own threads), else the name of its result stage.
For each group it prints the job count, wall p50 and sum (submission to
completion), tasks per job and executor run-ms per job, heaviest wall
sum first. A directory argument reads every log under it, including
Spark's rolling `eventlog_v2_*/events_*` files.

To write an uncompressed log from perfbench's JVM without editing it:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.dir=file:///tmp/evlog -Dspark.eventLog.compress=false" \\
      python3 perfbench/run.py --workload serve_live --seed 1 --seconds 20 --trace 1
    python3 scripts/eventlog_jobs.py /tmp/evlog
"""
import argparse
import collections
import json
import os
import statistics
import sys


def group_of(props):
    tag = props.get("perfbench.tag")
    if tag:
        return tag
    pool = props.get("spark.scheduler.pool")
    if not pool:
        return "default"
    return "serving" if pool.startswith("serving") else pool


def read_jobs(paths):
    """One dict per finished job: group, site, wall_ms, tasks, run_ms."""
    jobs, stage_job, sql_site = {}, {}, {}
    for path in paths:
        # job and stage ids are per application: a rolling log's parts share one
        app = os.path.dirname(path) if os.path.basename(path).startswith("events_") else path
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    # the cut last line of a log whose JVM was killed
                    print(f"skipped an unparseable line in {path}", file=sys.stderr)
                    continue
                kind = ev.get("Event", "")
                if kind.endswith(".SparkListenerSQLExecutionStart"):
                    sql_site[(app, str(ev["executionId"]))] = ev.get("description")
                elif kind == "SparkListenerJobStart":
                    stages = ev.get("Stage Infos") or []
                    result = max(stages, key=lambda s: s["Stage ID"], default={})
                    key = (app, ev["Job ID"])
                    props = ev.get("Properties") or {}
                    jobs[key] = {
                        "group": group_of(props),
                        "sql": (app, props.get("spark.sql.execution.id")),
                        "site": result.get("Stage Name", "?"),
                        "start": ev.get("Submission Time"),
                        "end": None, "tasks": 0, "run_ms": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[(app, sid)] = key
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get((app, ev["Job ID"]))
                    if job is not None:
                        job["end"] = ev.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get((app, ev["Stage ID"])))
                    if job is not None:
                        job["tasks"] += 1
                        job["run_ms"] += (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
    done = []
    for job in jobs.values():
        if job["start"] is not None and job["end"] is not None:
            job["wall_ms"] = job["end"] - job["start"]
            job["site"] = sql_site.get(job["sql"]) or job["site"]
            done.append(job)
    return done


def table(jobs, top):
    groups = collections.defaultdict(list)
    for job in jobs:
        groups[(job["group"], job["site"])].append(job)
    rows = []
    for (group, site), js in groups.items():
        walls = [j["wall_ms"] for j in js]
        n = len(js)
        rows.append((group, site, n, statistics.median(walls), sum(walls),
                     sum(j["tasks"] for j in js) / n, sum(j["run_ms"] for j in js) / n))
    rows.sort(key=lambda r: -r[4])
    head = ("group", "call site", "jobs", "wall_p50_ms", "wall_sum_ms", "tasks/job", "run_ms/job")
    out = ["\t".join(head)]
    for r in rows[:top]:
        out.append(f"{r[0]}\t{r[1]}\t{r[2]}\t{r[3]:.0f}\t{r[4]:.0f}\t{r[5]:.1f}\t{r[6]:.1f}")
    return "\n".join(out)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("paths", nargs="+", help="event log files or directories")
    ap.add_argument("--top", type=int, default=40, help="groups to print (default 40)")
    args = ap.parse_args(argv)
    files = []
    for p in args.paths:
        if os.path.isdir(p):
            for d, _, names in sorted(os.walk(p)):
                # appstatus_* marks a rolling log's state; it holds no events
                files += sorted(os.path.join(d, n) for n in names
                                if not n.startswith(("appstatus_", ".")))
        else:
            files.append(p)
    if not files:
        sys.exit("no event log files")
    jobs = read_jobs(files)
    print(f"{len(jobs)} jobs in {len(files)} file(s)")
    print(table(jobs, args.top))


if __name__ == "__main__":
    main(sys.argv[1:])
