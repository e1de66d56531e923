#!/usr/bin/env python3
"""Summarize Spark rolling event logs, one application dir at a time:
per-stage wall and task time, grouped by stage name + callsite, SQL
execution wall by description, every SQL execution with the root of its
physical plan, and every streaming micro-batch with its jobs, stages and
shuffle-write bytes.

The last list is how a streaming fold's work is attributed: executions
nested in a foreachBatch body all carry the stream's `start at ...` call
site, so the plan root (a checkpoint's projection, a count's
HashAggregate, a collect's CollectLimit, a write's
InsertIntoHadoopFsRelationCommand) and the root execution id (one per
micro-batch) are what tell them apart.

The batch list reads the query id and batch id that a micro-batch
execution puts on each of its jobs. A stateless stream whose batch is a
single write runs one job and writes no shuffle bytes per batch; a
shuffle-map job in front of the write shows up as a second job.

    scripts/evlog.py [--top N] DIR/eventlog_v2_<app> [DIR/eventlog_v2_<app> ...]

A run with several sessions writes one dir per application; pass them
all (`DIR/eventlog_v2_*`).
"""
import argparse, json, glob, os, subprocess, collections

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

def summarize(d, topn=40):
    stages = {}
    jobs = {}
    job_of_stage = {}
    execs = {}
    # (query id, batch id) -> job ids; stage id -> shuffle bytes written
    batch_jobs = collections.defaultdict(list)
    shuffle_bytes = collections.Counter()
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
            if "streaming.sql.batchId" in props:
                batch_jobs[(props.get("sql.streaming.queryId", ""),
                            int(props["streaming.sql.batchId"]))].append(jid)
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
        elif ev == "SparkListenerTaskEnd":
            w = (e.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
            shuffle_bytes[e["Stage ID"]] += w.get("Shuffle Bytes Written", 0)
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
    if not batch_jobs:
        return
    # stages that ran (a skipped stage has no completion) per job
    ran = collections.defaultdict(list)
    for sid, s in stages.items():
        ran[s["job"]].append(sid)
    print()
    print("== streaming batches: query, batch, jobs, stages, shuffle-write bytes ==")
    per_query = collections.defaultdict(list)
    for (q, b), jids in sorted(batch_jobs.items()):
        sids = [sid for j in jids for sid in ran[j]]
        nbytes = sum(shuffle_bytes[sid] for sid in sids)
        per_query[q].append((len(jids), nbytes))
        print(f"{q[:8]:>8} {b:5d} {len(jids):4d} {len(sids):4d} {nbytes:12d}")
    for q, rows in per_query.items():
        hist = collections.Counter(n for n, _ in rows)
        print(f"query {q[:8]}: {len(rows)} batches, jobs per batch "
              + ", ".join(f"{n}: {c}" for n, c in sorted(hist.items()))
              + f"; shuffle-write bytes {sum(b for _, b in rows)}")

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dirs", nargs="+", help="eventlog_v2_<app> dirs")
    ap.add_argument("--top", type=int, default=40,
                    help="rows in the top-N lists (default 40)")
    a = ap.parse_args()
    for i, d in enumerate(a.dirs):
        if len(a.dirs) > 1:
            print(("\n" if i else "") + f"#### {d}")
        summarize(d, a.top)

if __name__ == "__main__":
    main()
