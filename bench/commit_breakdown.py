#!/usr/bin/env python3
# usage: python3 bench/commit_breakdown.py <event log file or directory> [more ...]
"""Per-commit Spark job breakdown of a query_mix run, by engine call site.

Reads the Spark event log of an unmodified benchmark run, written with

  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/ev \
    -Dspark.eventLog.compress=false" python3 spatialbench/run.py --workload query_mix ...

and joins each job to the call stack of its SQL execution (or, for a job
outside one, of its first stage). A job belongs to a commit of the chain
when its stack passes through a facade mutation (`SpatialTable` is the
point table, `GeomTable` the extent table) called from the commit chain;
consecutive jobs of the same table and mutation are one commit. A job on
one of the threads a commit runs its data and index writes on has only
the engine's frames; it belongs to the commit that started last. For each
commit it prints every engine call site (the innermost `graft.` frame),
with its jobs and the milliseconds they ran, in the order they first ran.
A directory argument (a rolling `eventlog_v2_*` log, or a log directory)
reads every events file under it.
"""
import json
import os
import re
import sys

OPS = {"upsert": "upsert", "deleteWhere": "delete_where", "updateWhere": "update_where",
       "deleteIds": "delete_ids"}
TABLES = {"SpatialTable": "point", "GeomTable": "extent"}
COMMIT_THREAD = "graft.table.TableEngine$.$anonfun$concurrently"
FACADE = re.compile(r"^graft\.table\.(SpatialTable|GeomTable)\$\.(upsert|deleteWhere|updateWhere|deleteIds)\(")
FRAME = re.compile(r"^graft\.(?:\w+\.)*(\w+)\$\.(?:\$anonfun\$)?([A-Za-z]\w*?)(?:\$\d+)*(?:\$adapted)?\((\w+\.scala):(\d+)\)")


def event_files(paths):
    for p in paths:
        if os.path.isdir(p):
            for d, _, names in sorted(os.walk(p)):
                for n in sorted(names):
                    if not n.startswith(".") and ("events" in n or n.startswith("local-")):
                        yield os.path.join(d, n)
        else:
            yield p


def jobs_of(paths):
    """Job id -> (submitted ms, completed ms, stack lines), in job order."""
    sql, started, ended = {}, {}, {}
    for f in event_files(paths):
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind.endswith("SQLExecutionStart"):
                    sql[e["executionId"]] = e.get("details", "")
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    stages = e.get("Stage Infos") or [{}]
                    started[e["Job ID"]] = (e["Submission Time"], props.get("spark.sql.execution.id"),
                                            stages[0].get("Details", ""))
                elif kind == "SparkListenerJobEnd":
                    ended[e["Job ID"]] = e["Completion Time"]
    out = []
    for jid in sorted(started):
        t0, exec_id, details = started[jid]
        stack = sql.get(int(exec_id), details) if exec_id is not None else details
        out.append((jid, t0, ended.get(jid, t0), stack.splitlines()))
    return out


def commit_of(stack):
    """(table, op) of a chain commit the stack runs in, else None."""
    if not any(l.startswith("graftbench.CommitChain") for l in stack):
        return None
    for line in stack:
        m = FACADE.match(line)
        if m:
            return TABLES[m.group(1)], OPS[m.group(2)]
    return None


def call_site(stack):
    for line in stack:
        m = FRAME.match(line)
        if m:
            cls, method, src, ln = m.groups()
            return f"{src}:{ln} {cls}.{method}"
    return "(no graft frame)"


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__.strip().splitlines()[0] + "\nusage: " + sys.argv[0] + " <event log> [...]")
    commits = []  # [(table, op), {site: [jobs, ms]}, first ms, last ms]
    for jid, t0, t1, stack in jobs_of(argv[1:]):
        c = commit_of(stack)
        if c is None and commits and any(l.startswith(COMMIT_THREAD) for l in stack):
            c = commits[-1][0]
        if c is None:
            continue
        if not commits or commits[-1][0] != c:
            commits.append([c, {}, t0, t1])
        cur = commits[-1]
        site = cur[1].setdefault(call_site(stack), [0, 0])
        site[0] += 1
        site[1] += t1 - t0
        cur[3] = max(cur[3], t1)
    for (table, op), sites, first, last in commits:
        jobs = sum(s[0] for s in sites.values())
        ms = sum(s[1] for s in sites.values())
        print(f"{table}.{op}: {jobs} jobs, {ms} ms in jobs, {last - first} ms first to last job")
        for site, (n, t) in sites.items():
            print(f"  {n:3d} jobs {t:6d} ms  {site}")


if __name__ == "__main__":
    main(sys.argv)
