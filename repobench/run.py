"""Benchmark of the syslog ingest pipeline and the query engine.

    python3 repobench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

Builds the program from this checkout (see build.py), runs one workload in
a fresh JVM with its own tmp root, checks the program's outputs, and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
See README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import measure as m  # noqa: E402
import querydata  # noqa: E402

HEAP = "3g"
DEADLINE_S = 170  # per run, after the build
# validity gates of the open loop (README.md, "Validity gates")
LATE_GATE_MS = 100.0
BACKLOG_GATE_S = 0.5
STREAM_KEYS = {"trigger": "triggerExecution", "planning": "queryPlanning",
               "wal_commit": "walCommit", "commit_offsets": "commitOffsets",
               "add_batch": "addBatch", "latest_offset": "latestOffset"}
SHORT = lambda row: row.split("_")[0]  # noqa: E731


class StepFailed(Exception):
    pass


def jvm(classes, run_dir, deadline, **opts):
    """Run the driver; return its JSON result."""
    out = run_dir / "result.json"
    opens = ["java.base/" + p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    cmd = ["java", f"-Xmx{HEAP}", "-Xss4m", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "repobench.Driver", f"out={out}",
            f"tmp={run_dir}"] + [f"{k}={v}" for k, v in opts.items()]
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
               SPARK_LOCAL_IP="127.0.0.1")
    log = run_dir / "jvm.log"
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, env=env,
                                cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise StepFailed("driver ran past the run's deadline")
    if rc != 0 or not out.exists():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        raise StepFailed(f"driver exited with {rc}:\n" + "\n".join(tail))
    return json.loads(out.read_text())


def stream_layer(progress):
    """stream.* metrics of the given micro-batches that carried rows."""
    ps = [p for p in progress if p["rows"] > 0]
    d = lambda k: [p["duration_ms"].get(STREAM_KEYS[k], 0) for p in ps]  # noqa: E731
    trig = d("trigger")
    return {
        "stream.batches": (len(ps), "count"),
        "stream.rows_per_batch_p50": (m.pct([p["rows"] for p in ps], 50), "rows"),
        "stream.trigger_ms_p50": (m.pct(trig, 50), "ms"),
        "stream.trigger_ms_tail": (m.pct(trig, m.tail_percentile(len(trig))), "ms"),
        "stream.planning_ms_p50": (m.pct(d("planning"), 50), "ms"),
        "stream.wal_commit_ms_p50": (m.pct(d("wal_commit"), 50), "ms"),
        "stream.commit_offsets_ms_p50": (m.pct(d("commit_offsets"), 50), "ms"),
        "stream.add_batch_ms_p50": (m.pct(d("add_batch"), 50), "ms"),
        "sources.latest_offset_ms_p50": (m.pct(d("latest_offset"), 50), "ms"),
    }


def ingest(r, trace):
    """Metrics and checks of an ingest run: throughput from the closed
    loop, then latency from the open loop. Source offsets: warm-up rows,
    then the closed loop's, then the open loop's."""
    warm, pc, fl = r["warmup"], r["paced"], r["flood"]
    bs = m.batches(r["progress"])
    n, t0, rate = pc["rows"], pc["t0_ms"], pc["rate"]
    first = warm + fl["rows"]  # offset of open-loop row 0
    commit = m.commit_times(bs, first, n)
    lat = commit - (t0 + np.arange(n) * 1000.0 / rate)
    sent_at = lambda t: min(n, max(0, int((t - t0) * rate / 1000.0) + 1))  # noqa: E731
    points = m.backlog([b for b in bs if b[0] >= first], first, sent_at)
    late = pc["late_ms"]
    late_p = m.tail_percentile(len(late))
    gen_late = m.pct(late, late_p)

    # closed loop: service rate of the batches that ran back to back
    flood_bs = [b for b in bs if b[0] >= warm and b[1] <= first]
    throughput = m.service_rate(flood_bs)
    start = min(c[0][0] for c in fl["send_curves"])
    send_rate = fl["rows"] / (max(c[-1][0] for c in fl["send_curves"]) - start) * 1000.0

    tail_p = m.tail_percentile(len(lat))
    e2e = {"latency_p50_ms": (m.pct(lat, 50), "ms"),
           "latency_tail_ms": (m.pct(lat, tail_p), "ms"),
           "throughput_per_s": (throughput, "1/s")}
    # validity gates of the open loop: a run whose generator fell behind
    # or whose backlog grew is a failure, not a reading
    gates = []
    if gen_late > LATE_GATE_MS:
        gates.append(f"generator ran late: p{late_p} {gen_late:.1f} ms > {LATE_GATE_MS} ms")
    growth_s = m.slope_per_s(points) * (n / rate) / rate
    if growth_s > BACKLOG_GATE_S:
        gates.append(f"backlog grew by {growth_s:.2f} s of input over the open loop")
    check = r["check"]
    failed = check["expected"] if gates else check["failed"]
    problems = gates + ([f"sink check: {check}"] if check["failed"] else [])
    layer = {}
    if trace:
        t = r["trace"]
        layer = {
            "gen.sent_rows": (n + fl["rows"], "count"),
            "gen.send_rows_per_s": (send_rate, "1/s"),
            "gen.late_p99_ms": (gen_late, "ms"),
            "sources.backlog_rows_max": (max((p[1] for p in points), default=0), "rows"),
            "sources.backlog_rows_slope": (m.slope_per_s(points), "rows/s"),
            "sources.accept_rows_per_s": (t["accept"], "1/s"),
            "ingest.encode_rows_per_s": (t["encode"], "1/s"),
            "sink.write_rows_per_s": (t["sink_write"], "1/s"),
            "sink.files": (t["sink_files"], "count"),
            "sink.bytes": (t["sink_bytes"], "B"),
            "trace.tail_percentile": (tail_p, "pct"),
        }
        # open-loop batches show the per-batch fixed cost, closed-loop
        # batches the per-row cost
        layer.update(stream_layer(
            [p for p in r["progress"] if m.offset_of(p["start_offset"]) >= first]))
        layer["stream.add_batch_ms_p50"] = stream_layer(
            [p for p in r["progress"] if warm <= m.offset_of(p["start_offset"]) < first]
        )["stream.add_batch_ms_p50"]
    return e2e, layer, check["expected"], failed, problems


def query(r, trace, data_dir):
    """Metrics and checks of a query_mix run."""
    execs, serving, folds = r["execs"], r["serving"], r["folds"]
    wall = lambda x: x["end_ms"] - x["start_ms"]  # noqa: E731
    median_ms = {row: m.median([wall(x) for x in execs if x["row"] == row]) for row in r["rows"]}
    serve_s = sum(median_ms[row] for row in serving) / 1000.0
    fold_s = sum(median_ms[row] for row in folds) / 1000.0
    e2e = {"latency_p50_ms": (m.geomean([median_ms[row] for row in serving]), "ms"),
           "latency_tail_ms": (fold_s * 1000.0, "ms"),
           "throughput_per_s": (len(r["rows"]) / (serve_s + fold_s), "1/s")}
    every = r["setup_execs"] + execs
    thrown = [x for x in every if x["error"]]
    mismatched = {k: v for k, v in querydata.check(
        data_dir, r["oracle"],
        {(x["row"], x["pass"]): x["result"] for x in every if not x["error"]}).items() if v}
    failed = len(thrown) + len(mismatched)
    problems = [f"{x['row']} pass {x['pass']}: {x['error']}" for x in thrown] + \
        [f"{row} pass {p}: {v}" for (row, p), v in sorted(mismatched.items())]
    layer = {}
    if trace:
        for row in r["rows"]:
            xs = [x for x in execs if x["row"] == row]
            med = lambda k: m.median([x[k] for x in xs])  # noqa: E731
            g = "operators" if row in serving else "streaming"
            p = f"{g}.{SHORT(row)}"
            layer[f"{p}.wall_s"] = (median_ms[row] / 1000.0, "s")
            layer[f"{p}.plan_s"] = (med("plan_ms") / 1000.0, "s")
            layer[f"{p}.executions"] = (med("executions"), "count")
            layer[f"{p}.jobs"] = (med("jobs"), "count")
            layer[f"{p}.tasks"] = (med("tasks"), "count")
            layer[f"{p}.shuffle_mb"] = (med("shuffle_bytes") / 1e6, "MB")
        for g, rows, pass_s in (("operators", serving, serve_s), ("streaming", folds, fold_s)):
            xs = [x for x in execs if x["row"] in rows]
            n = len(xs) / len(rows)  # executions of each row
            layer[f"{g}.pass_s"] = (pass_s, "s")
            layer[f"{g}.cpu_s"] = (sum(x["cpu_ns"] for x in xs) / 1e9 / n, "s")
            layer[f"{g}.gc_s"] = (sum(x["gc_ms"] for x in xs) / 1e3 / n, "s")
            if g == "operators":
                layer["operators.spill_mb"] = (sum(x["spill_bytes"] for x in xs) / 1e6 / n, "MB")
        fx = [x for x in execs if x["row"] in folds]
        layer["streaming.build_share"] = (sum(x["call_ms"] for x in fx) / sum(map(wall, fx)),
                                          "ratio")
        t = min(x["start_ms"] for x in execs)  # fold batches of the timed pass
        layer.update(stream_layer([p for p in r["progress"] if p["start_ms"] >= t]))
    return e2e, layer, len(every), failed, problems


def per_layer_names():
    bench = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return [(x["name"], x["unit"]) for x in bench["per_layer"]]


def run(workload, seed, seconds, trace):
    """One run of a workload; returns the result object."""
    if workload not in ("ingest", "query_mix"):
        raise StepFailed(f"arguments: unknown workload {workload!r}")
    step = "build"
    run_dir = build.BUILD / "runs" / f"{workload}-s{seed}-{os.getpid()}"
    try:
        classes = build.build()
        deadline = time.monotonic() + DEADLINE_S
        shutil.rmtree(run_dir, ignore_errors=True)
        run_dir.mkdir(parents=True)
        if workload == "query_mix":
            step = "generate tables"
            data_dir = run_dir / "data"
            querydata.generate(seed, data_dir)
            step = "run the query mix"
            r = jvm(classes, run_dir, deadline - 15, mode="query", data=data_dir,
                    seconds=seconds, trace=int(trace))
            step = "check query results"
            e2e, layer, attempted, failed, problems = query(r, trace, data_dir)
        else:
            step = "run the ingest pipeline"
            r = jvm(classes, run_dir, deadline - 5, mode="ingest", seed=seed, seconds=seconds,
                    trace=int(trace))
            step = "check ingest results"
            e2e, layer, attempted, failed, problems = ingest(r, trace)
        leaked = sum(1 for p in (run_dir / "tmp").iterdir() if p.name.startswith("graft_"))
    except Exception as e:  # noqa: BLE001 - every failure names its step
        raise StepFailed(f"{step}: {e}") from e
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if trace:
        jv = r["jvm"]
        layer["streaming.tmp_dirs_leaked"] = (leaked, "count")
        layer["jvm.peak_rss_mb"] = (jv["peak_rss_kb"] / 1024.0, "MB")
        layer["jvm.gc_s"] = (jv["gc_ms"] / 1000.0, "s")
        layer["jvm.setup_cold_s"] = (r["setup_ms"][0] / 1000.0, "s")
        layer["trace.setup_s"] = (m.median(r["setup_ms"]) / 1000.0, "s")
        for k, v in e2e.items():
            layer[f"trace.{k}"] = v
        metrics = {name: {"value": float(layer.get(name, (0.0,))[0]), "unit": unit}
                   for name, unit in per_layer_names()}
    else:
        e2e["setup_s"] = (m.median(r["setup_ms"]) / 1000.0, "s")
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
    for p in problems:
        print(f"repobench: {workload}: {p}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        result = run(a.workload, a.seed, a.seconds, a.trace == 1)
    except StepFailed as e:  # no result line: the run measured nothing
        print(f"repobench: {a.workload}: {e}", file=sys.stderr)
        sys.exit(2)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
