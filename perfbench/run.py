#!/usr/bin/env python3
"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program from source
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs the workload in one JVM with Spark at
local[nproc] (perfbench/src), checks the outputs outside the timed
region, and prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from a traced run (whose spans and per-operation rows go
to .bench_build/traces/). Workloads and metrics: perfbench/README.md.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

# The registered queries fixture_suite times, fixed by name so that a
# change to the registry cannot change the workload. A run fails if one
# of them is no longer registered. j_semi_anti stands in for its neighbour
# by name, j_salted_skew, whose rounded float sum lands on a half-cent tie
# that Spark and DuckDB round apart on some seeds (README.md).
FIXTURE_QUERIES = [
    "a10_budget_select", "a10_semdedup", "a13_profile_card", "f6_coord_precision",
    "j_semi_anti", "q6_forecast_revenue", "u3_setops_all", "x28_bm25",
]

HEAP = "1g"
FIXTURE_DATA = dict(units=1, graph_nodes=10_000, graph_degree=10)
# The serve traffic. 1000 events/s is the middle of the three rates the
# serve path was first measured at (200, 1000, 5000). The shares follow
# the program's own test of this path (ServingPipelineSpec): every event
# is polled three times, and 3 of every 1003 events break one contract
# check each. Here each new event may be re-delivered twice, and two of
# every three deliveries are re-deliveries while one is left to make.
STREAM = dict(rate=1000.0, redeliver=2 / 3, redeliveries=2, violate=3 / 1003, drain_s=60.0)
WORKLOADS = ("fixture_suite", "serve_stream")
LPA_ROUNDS, BFS_HOPS = 3, 4
JVM_MARGIN_S = 140   # beyond --seconds: set-up, the last pass or the drain, the checks

END_TO_END = [("setup_s", "s"), ("total_s", "s"), ("latency_gmean_ms", "ms"),
              ("latency_p95_ms", "ms"), ("live_heap_mb", "MB")]
PER_LAYER = [
    ("session.start_s", "s"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"), ("plans.planning_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.jobs_per_query", "count"), ("exec.idle_gap_s", "s"), ("exec.run_s", "s"),
    ("exec.cpu_s", "s"), ("exec.busy_share", "ratio"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.spill_bytes", "bytes"), ("exec.gc_s", "s"),
    ("exec.failed_tasks", "count"),
    ("cache.peak_bytes", "bytes"), ("cache.evicted_blocks", "count"), ("cache.leaked_rdds", "count"),
    ("ops.cc.s", "s"), ("ops.cc.rounds", "count"), ("ops.cc.jobs_per_round", "count"),
    ("ops.lpa.s", "s"), ("ops.lpa.jobs_per_round", "count"),
    ("ops.bfs.s", "s"), ("ops.bfs.jobs_per_round", "count"),
    ("sources.polls", "count"), ("sources.poll_ms_p50", "ms"), ("sources.failed_fetches", "count"),
    ("streaming.ingest.trigger_ms_p50", "ms"), ("streaming.ingest.add_batch_ms_p50", "ms"),
    ("streaming.ingest.wal_commit_ms_p50", "ms"),
    ("streaming.serve.trigger_ms_p50", "ms"), ("streaming.serve.add_batch_ms_p50", "ms"),
    ("streaming.serve.wal_commit_ms_p50", "ms"),
    ("streaming.serve.state_rows", "count"), ("streaming.serve.state_commit_ms", "ms"),
    ("streaming.sink_files", "count"), ("streaming.backlog_slope_eps", "events/s"),
    ("streaming.memo_hit_ratio", "ratio"), ("streaming.quarantine_share", "ratio"),
    ("streaming.gen_late_ms_max", "ms"),
]
EXEC_KEYS = ["jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
             "shuffle_read_bytes", "spill_bytes", "failed_tasks", "idle_gap_s"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc():
    return len(os.sched_getaffinity(0))


def loadavg():
    return os.getloadavg()[0]


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def p95(xs):
    return statistics.quantiles(xs, n=20, method="inclusive")[18] if len(xs) > 1 else xs[0]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def gmean(xs):
    return statistics.geometric_mean(xs) if xs and min(xs) > 0 else 0.0


def plan_for(args, data, work):
    plan = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "data": str(data), "work": str(work),
            "out": str(work / "record.json"),
            "lpa_rounds": LPA_ROUNDS, "bfs_hops": BFS_HOPS}
    if args.workload == "serve_stream":
        plan["stream"] = STREAM
        return plan
    ops = [{"kind": "query", "name": n} for n in FIXTURE_QUERIES] + \
          [{"kind": k, "name": k} for k in ("cc", "lpa", "bfs")]
    random.Random(args.seed).shuffle(ops)  # the seed fixes the order
    plan.update(ops=ops, warmup="q1_agg")
    return plan


def run_jvm(classpath, plan, work):
    """Runs the workload's JVM; returns its record, with `launch_ms` (epoch
    ms just before the process started) added."""
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()), SPARK_LOCAL_DIRS=str(tmp))
    plan_path = work / "plan.json"
    plan_path.write_text(json.dumps(plan))
    cmd = ["java", "-XX:-UsePerfData", *opens, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "perfbench.Main", str(plan_path)]
    timeout = plan["seconds"] + JVM_MARGIN_S
    with open(work / "jvm.log", "w") as log:
        launch_ms = time.time() * 1e3
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            code = f"killed after {timeout:.0f} s"
            proc.wait()
    if code != 0:
        tail = (work / "jvm.log").read_text().splitlines()[-15:]
        fail(f"workload JVM failed ({code}):\n" + "\n".join(tail))
    return dict(json.loads((work / "record.json").read_text()), launch_ms=launch_ms)


def setup_s(rec):
    """Seconds from the workload process's start to the end of its set-up,
    where the first timed operation begins."""
    return (rec["setup_end_ms"] - rec["launch_ms"]) / 1e3


# ---------------------------------------------------------------- metrics

def pass_totals(timed):
    """Seconds of one timed pass: the operations' timed regions summed."""
    totals = {}
    for o in timed:
        totals[o["pass"]] = totals.get(o["pass"], 0.0) + o["wall_s"]
    return list(totals.values())


def batch_metrics(rec, check, trace):
    timed = rec["ops"]
    bad = {n for n, err in check.items() if err}
    attempted = len(timed)
    failed = sum(1 for o in timed if o["error"] or o["name"] in bad)
    if not trace:
        walls = [o["wall_s"] * 1e3 for o in timed]
        return attempted, failed, {
            "setup_s": setup_s(rec), "total_s": median(pass_totals(timed)),
            "latency_gmean_ms": gmean(walls), "latency_p95_ms": p95(walls),
            "live_heap_mb": rec["live_heap_mb"]}
    passes = len(rec["pass_s"])
    per_pass = lambda key: sum(o.get(key, 0) for o in timed) / passes
    wall = sum(o["wall_s"] for o in timed)
    m = {k: 0.0 for k, _ in PER_LAYER}
    m["session.start_s"] = rec["session_start_s"]
    m["queries.build_s"] = per_pass("build_s")
    m["queries.build_jobs"] = per_pass("build_jobs")
    for k in ("analysis", "optimization", "planning"):
        m[f"plans.{k}_ms"] = per_pass(f"{k}_ms")
    for k in EXEC_KEYS:
        m[f"exec.{k}"] = per_pass(k)
    m["exec.jobs_per_query"] = sum(o["jobs"] for o in timed) / len(timed)
    m["exec.busy_share"] = sum(o["run_s"] for o in timed) / (wall * nproc())
    m["cache.peak_bytes"] = rec["cache_peak_bytes"]
    m["cache.evicted_blocks"] = rec["cache_evicted_blocks"] / passes
    m["cache.leaked_rdds"] = per_pass("leaked_rdds")
    for kind in ("cc", "lpa", "bfs"):
        runs = [o for o in timed if o["kind"] == kind]
        if runs:
            m[f"ops.{kind}.s"] = median([o["wall_s"] for o in runs])
            m[f"ops.{kind}.jobs_per_round"] = median([o["jobs"] / max(1, o["rounds"]) for o in runs])
            if kind == "cc":
                m["ops.cc.rounds"] = median([o["rounds"] for o in runs])
    return attempted, failed, m


def serve_metrics(rec, trace):
    attempted = rec["all_deliveries"]
    failed = rec["unserved"] + rec["n_errors"]   # n_errors leaves out the unserved message
    lat = rec["latency_ms"] or [0.0]
    if not trace:
        return attempted, failed, {
            "setup_s": setup_s(rec),
            "total_s": (rec["end_ms"] - rec["first_due_ms"]) / 1e3,
            "latency_gmean_ms": gmean(lat), "latency_p95_ms": p95(lat),
            "live_heap_mb": rec["live_heap_mb"]}
    m = {k: 0.0 for k, _ in PER_LAYER}
    m["session.start_s"] = rec["session_start_s"]
    ex = rec["exec"]
    for k in EXEC_KEYS:
        m[f"exec.{k}"] = ex.get(k, 0)
    for k in ("analysis", "optimization", "planning"):
        m[f"plans.{k}_ms"] = ex.get(f"{k}_ms", 0)
    trig = rec["triggers"]
    window_s = (rec["end_ms"] - rec["first_due_ms"]) / 1e3
    m["exec.jobs_per_query"] = ex.get("jobs", 0) / max(1, len(trig))
    m["exec.busy_share"] = ex.get("run_s", 0) / (window_s * nproc())
    polls = rec["polls"]
    m["sources.polls"] = len(polls)
    m["sources.poll_ms_p50"] = median([p["ms"] for p in polls])
    for q in ("ingest", "serve"):
        ts = [t for t in trig if t["query"] == f"serving_{q}"]
        for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                          ("walCommit", "wal_commit_ms")):
            m[f"streaming.{q}.{name}_p50"] = median([t["durations"].get(key, 0.0) for t in ts])
        if q == "serve" and ts:
            m["streaming.serve.state_rows"] = max(t["state_rows"] for t in ts)
            m["streaming.serve.state_commit_ms"] = median([t["state_commit_ms"] for t in ts])
    m["streaming.sink_files"] = rec["sink_files"]
    m["streaming.backlog_slope_eps"] = backlog_slope(rec)
    m["streaming.memo_hit_ratio"] = rec["memo_hits"] / max(1, rec["served_rows"])
    m["streaming.quarantine_share"] = rec["violating_deliveries"] / max(1, rec["all_deliveries"])
    m["streaming.gen_late_ms_max"] = rec["gen_late_ms_max"]
    return attempted, failed, m


def backlog_slope(rec):
    """Least-squares slope (events/s) of the backlog (deliveries due but
    not yet served) sampled at each serve completion during the schedule;
    positive when the pipeline falls behind the offered rate."""
    t0, n = rec["first_due_ms"], rec["deliveries"]
    step = 1000.0 * rec["schedule_s"] / n
    end = t0 + 1000.0 * rec["schedule_s"]
    served = sorted(rec["served_at_ms"])
    xs, ys = [], []
    for i, t in enumerate(served):
        if t <= end:
            xs.append((t - t0) / 1e3)
            ys.append(min(n, int((t - t0) // step) + 1) - (i + 1))
    if len(set(xs)) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum((x - mx) ** 2 for x in xs)


# ---------------------------------------------------------------- trace

def write_trace(args, rec, check):
    """Spans plus per-operation rows (self time per layer and the hygiene
    columns), written when the traced run ends."""
    spans = rec.get("spans", [])
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def covered(intervals, lo, hi):
        total, reach = 0.0, lo
        for a, b in sorted(intervals):
            a, b = max(a, reach), min(b, hi)
            if b > a:
                total, reach = total + b - a, b
        return total

    self_ms = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        own = (s["end"] - s["start"]) - covered(kids, s["start"], s["end"])
        key = (s["op"], s["layer"])
        self_ms[key] = self_ms.get(key, 0.0) + max(0.0, own)
    rows = []
    for o in rec.get("ops", []):
        op = o.get("op_id", 0)
        rows.append({**{k: o.get(k) for k in (
            "name", "kind", "pass", "wall_s", "build_s", "action_s", "rounds", "leaked_rdds",
            "build_jobs", "jobs", "stages", "tasks", "idle_gap_s", "spill_bytes", "error")},
            "jobs_per_query": o.get("jobs"), "check": check.get(o["name"]),
            "self_ms": {layer: v for (sop, layer), v in self_ms.items() if sop == op}})
    for t in rec.get("triggers", []):
        rows.append({"batch": t["batch"], "query": t["query"], "trigger_ms": t["end"] - t["start"],
                     "durations": t["durations"], "input_rows": t["input_rows"]})
    out = ROOT / ".bench_build" / "traces" / f"{args.workload}-seed{args.seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({"rows": rows, "spans": spans}))
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").exists():
        fail("no program sources here: run from the root of a full checkout")
    if "SPARK_GRAFT_CONF" in os.environ:
        fail("SPARK_GRAFT_CONF is set; it changes the program's Spark configuration, "
             "so the run would not measure the program as committed", code=3)
    started = time.time()
    header = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "nproc": nproc(), "git_sha": git_sha(),
              "loadavg_start": loadavg(),
              "graft_env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}}
    header["graft_env"]["SPARK_GRAFT_CPUS"] = str(nproc())
    header["heap"] = HEAP

    import build
    import gen
    import oracle
    phases = {}

    def phase(name, t=[time.time()]):
        now = time.time()
        phases[name] = round(now - t[0], 2)
        t[0] = now

    classpath = build.build()
    phase("build_s")
    work = ROOT / ".bench_build" / "runs" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        data = None
        if args.workload == "fixture_suite":
            data = ROOT / ".bench_build" / "data" / f"{args.workload}-seed{args.seed}"
            gen.write(str(data), args.seed, **FIXTURE_DATA)
        phase("inputs_s")
        plan = plan_for(args, data, work)
        rec = run_jvm(classpath, plan, work)
        phase("jvm_s")
        if args.workload == "serve_stream":
            rec["schedule_s"] = args.seconds
            check = {"serve_stream": "; ".join(rec["errors"]) or None}
            score = lambda trace: serve_metrics(rec, trace)
        else:
            threw = {o["name"]: o["error"] for o in rec["ops"] if o["pass"] == 0 and o["error"]}
            check = oracle.check_batch(str(ROOT), str(data), str(work), plan["ops"],
                                       LPA_ROUNDS, BFS_HOPS, threw)
            score = lambda trace: batch_metrics(rec, check, trace)
        attempted, failed, metrics = score(args.trace)
        if args.trace:  # the traced run's own end-to-end figures, for the overhead
            header["end_to_end_traced"] = score(0)[2]
        phase("check_s")
        trace_path = write_trace(args, rec, check) if args.trace else None
    finally:
        shutil.rmtree(work, ignore_errors=True)

    header.update(rec["header"], loadavg_end=loadavg(), wall_s=round(time.time() - started, 1),
                  phases=phases, pass_s=rec.get("pass_s"))
    print("header " + json.dumps(header))
    for name, err in sorted(check.items()):
        print(f"check {'ok  ' if not err else 'FAIL'} {name}" + (f": {err}" if err else ""))
    if trace_path:
        print(f"trace {trace_path.relative_to(ROOT)}")
    units = dict(PER_LAYER if args.trace else END_TO_END)
    print(json.dumps({
        "correct": not any(check.values()) and failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
