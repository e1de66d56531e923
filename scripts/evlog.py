#!/usr/bin/env python3
"""Summarize a Spark rolling event log: per-stage wall and task time,
grouped by stage name + callsite, SQL execution wall by description, and
every SQL execution with the root of its physical plan.

The last list is how a streaming fold's work is attributed: executions
nested in a foreachBatch body all carry the stream's `start at ...` call
site, so the plan root (a checkpoint's projection, a count's
HashAggregate, a collect's CollectLimit, a write's
InsertIntoHadoopFsRelationCommand) and the root execution id (one per
micro-batch) are what tell them apart.

    scripts/evlog.py DIR/eventlog_v2_<app> [topn]
"""
import json, sys, glob, os, subprocess, collections

def lines(d):
    for f in sorted(glob.glob(os.path.join(d, "events_*"))):
        if f.endswith(".zstd"):
            p = subprocess.run(["zstd", "-dc", f], capture_output=True)
            if p.returncode != 0:
                # a silent empty segment would underreport stage costs —
                # the one failure mode a measure-first tool must not have
                raise RuntimeError(
                    f"zstd -dc {f} failed (rc={p.returncode}): "
                    f"{p.stderr.decode('utf-8', 'replace')[:200]}")
            data = p.stdout.decode("utf-8", "replace")
        else:
            data = open(f, encoding="utf-8", errors="replace").read()
        for ln in data.splitlines():
            if ln.strip():
                yield ln

def plan_root(info):
    """Name of the first real node of a SparkPlanInfo tree (below AQE's
    AdaptiveSparkPlan wrapper)."""
    while info and info.get("nodeName") == "AdaptiveSparkPlan" \
            and info.get("children"):
        info = info["children"][0]
    return (info or {}).get("nodeName", "?")

def main(d, topn=40):
    stages = {}
    jobs = {}
    job_of_stage = {}
    execs = {}
    for ln in lines(d):
        try:
            e = json.loads(ln)
        except json.JSONDecodeError:
            continue
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            jobs[jid] = {
                "t0": e["Submission Time"],
                "desc": props.get("spark.job.description", "")[:120],
                "group": props.get("spark.jobGroup.id", ""),
                "execid": props.get("spark.sql.execution.id", ""),
                "t1": None,
            }
            for si in e.get("Stage Infos", []):
                job_of_stage[si["Stage ID"]] = jid
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["t1"] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            sid = si["Stage ID"]
            t0 = si.get("Submission Time")
            t1 = si.get("Completion Time")
            if t0 and t1:
                stages[sid] = {
                    "name": si.get("Stage Name", "")[:80],
                    "wall": (t1 - t0) / 1000.0,
                    "tasks": si.get("Number of Tasks", 0),
                    "job": job_of_stage.get(sid),
                }
        elif ev.endswith("SQLExecutionStart"):
            execs[str(e["executionId"])] = {
                "desc": " ".join(e.get("description", "").split())[:150],
                "root": plan_root(e.get("sparkPlanInfo")),
                "root_exec": e.get("rootExecutionId", e["executionId"]),
                "t0": e["time"], "t1": None}
        elif ev.endswith("SQLExecutionEnd"):
            k = str(e["executionId"])
            if k in execs:
                execs[k]["t1"] = e["time"]

    # stage wall grouped by (job desc, stage name)
    agg = collections.Counter()
    cnt = collections.Counter()
    for sid, s in stages.items():
        j = jobs.get(s["job"]) or {}
        eid = j.get("execid", "")
        edesc = (execs.get(eid) or {}).get("desc", "") or j.get("desc", "")
        key = (edesc[:60], s["name"])
        agg[key] += s["wall"]
        cnt[key] += 1
    print("== stage wall by (exec desc, stage name), top %d ==" % topn)
    for (desc, name), w in agg.most_common(topn):
        print(f"{w:8.2f}s x{cnt[(desc,name)]:<4} {desc} | {name}")
    print()
    tot = collections.Counter()
    for k, ex in execs.items():
        if ex["t1"]:
            tot[ex["desc"]] += (ex["t1"] - ex["t0"]) / 1000.0
    print("== SQL execution wall by description, top %d ==" % topn)
    for dsc, w in tot.most_common(topn):
        print(f"{w:8.2f}s {dsc}")
    print()
    njobs = collections.Counter(j["execid"] for j in jobs.values())
    ntasks = collections.Counter()
    for s in stages.values():
        ntasks[(jobs.get(s["job"]) or {}).get("execid", "")] += s["tasks"]
    print("== SQL executions: id, root execution, wall, jobs, tasks, plan root ==")
    for k in sorted(execs, key=int):
        ex = execs[k]
        w = (ex["t1"] - ex["t0"]) / 1000.0 if ex["t1"] else float("nan")
        print(f"{k:>5} {ex['root_exec']:>5} {w:7.2f}s {njobs[k]:4d} "
              f"{ntasks[k]:5d}  {ex['root']:<42} {ex['desc']}")

if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 40)
