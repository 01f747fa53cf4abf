#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, timed from outside the engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload star_olap --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source if needed, generates the
workload's inputs from the seed, runs the harness JVM (one caller, one
call outstanding, a local[N] session with N = the machine's cores),
checks every output outside the timed window, and prints one JSON object
as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 a
listener-traced run reports the per-layer metrics and writes its spans
to .perfbench/trace/. The line before it carries the details: the run
stamp, sample counts, tails, failures and the workload-specific figures.

Everything the benchmark writes lands under .perfbench/ in the checkout;
the engine's fixture tables are read only. PERFBENCH_SF_DIR overrides
where those tables are.
"""

import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HARNESS = os.path.join(BENCH, "harness")
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, BENCH)

import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

HEAP = "3g"
DEADLINE_S = 170.0
BUILD_TIMEOUT_S = 800
ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def _tree_files(path):
    if os.path.isfile(path):
        return [path]
    out = []
    for d, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if x != "target")
        out += [os.path.join(d, f) for f in sorted(files)]
    return out


def source_stamp():
    """Hash of every input of the two builds."""
    h = hashlib.sha256()
    for base in ("src/main", "build.sbt", "project/build.properties",
                 "perfbench/harness/src", "perfbench/harness/build.sbt"):
        for f in _tree_files(os.path.join(ROOT, base)):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("no Spark installation: set SPARK_HOME")
    return os.path.join(home, "jars")


def ensure_built():
    stamp = source_stamp()
    stamp_file = os.path.join(WORK, "build.stamp")
    classes = [os.path.join(ROOT, "target/scala-2.13/classes/graft/SparkEntry.class"),
               os.path.join(HARNESS, "target/scala-2.13/classes/perfbench/Harness.class")]
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and all(os.path.exists(c) for c in classes)):
        return stamp
    env = dict(os.environ, SPARK_HOME=os.path.dirname(spark_jars()))
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(WORK, "build.log"), "w") as log:
        for d in (ROOT, HARNESS):
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=d, stdout=log, stderr=subprocess.STDOUT, env=env,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            if rc != 0:
                raise BenchError(f"build failed in {os.path.relpath(d, ROOT) or '.'}, "
                                 f"see .perfbench/build.log")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return stamp


def fixture_dir():
    """The engine's read-only sf0.1 fixture tables: PERFBENCH_SF_DIR, else
    the sf0.1 row of the project's TESTDATA.md."""
    if os.environ.get("PERFBENCH_SF_DIR"):
        return os.environ["PERFBENCH_SF_DIR"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
            m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", fh.read(), re.M)
    except OSError:
        m = None
    if not m:
        raise BenchError("no sf0.1 row in TESTDATA.md: set PERFBENCH_SF_DIR")
    return m.group(1).rstrip("/")


def commit_id(stamp):
    """The checkout's git commit, or a hash of the built sources when the
    checkout is not a git repository."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "src-sha256:" + stamp[:16]
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "src-sha256:" + stamp[:16]


# ---------------------------------------------------------------- harness

def launch_harness(run_dir, deadline, params):
    """Run the harness JVM once, within the run's deadline; returns its raw
    output and the launch time (epoch ns)."""
    params = dict(params, out=os.path.join(run_dir, "raw.json"))
    pfile = os.path.join(run_dir, "params.properties")
    with open(pfile, "w") as fh:
        for k, v in params.items():
            fh.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = ":".join([os.path.join(HARNESS, "target/scala-2.13/classes"),
                   os.path.join(ROOT, "target/scala-2.13/classes"),
                   os.path.join(spark_jars(), "*")])
    cmd = ["java", *ADD_OPENS, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Xmx{HEAP}", f"-Xms{HEAP}",
           "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Harness", pfile]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    left = deadline - time.monotonic()
    if left < 5:
        raise BenchError("out of time before launching the harness")
    launched = time.time_ns()
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=left)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("harness exceeded the run deadline")
    if rc != 0:
        raise BenchError(f"harness exited {rc}, see .perfbench/run/harness.log")
    with open(params["out"]) as fh:
        return json.load(fh), launched


def setup_seconds(raw, launched, gen_s):
    """Input generation, then JVM launch to the first timed call."""
    return gen_s + (raw["marks"]["first_call"] - launched) / 1e9


# ---------------------------------------------------------------- figures

def wall(c):
    return (c["t1"] - c["t0"]) / 1e9


def unit_wall(u):
    """A unit's wall time, less the harness's quiescing between calls."""
    return (u["t1"] - u["t0"] - u["quiet_ns"]) / 1e9


def steps(calls):
    """vector_ingest: one step = an admitBatch call and the topK call
    after it, keyed (unit, batch)."""
    out = {}
    for c in calls:
        out.setdefault((c["unit"], c["batch"]), {})[c["kind"]] = c
    return out


def e2e_metrics(w, raw, setup_s, recall):
    units = raw["units"]
    calls = raw["calls"]
    if w["kind"] == "stream":
        per_call = [wall(s["admit"]) + wall(s["topk"]) for s in steps(calls).values()]
    else:
        per_call = [wall(c) for c in calls]
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(unit_wall(u) for u in units), "s"),
        "call_p50_s": (statistics.median(per_call), "s"),
        "recall": (recall, "ratio"),
    }


def stream_figures(raw, check_stats):
    """Workload-specific figures of vector_ingest from the untraced run."""
    calls = raw["calls"]
    admits = [c for c in calls if c["kind"] == "admit"]
    topks = [c for c in calls if c["kind"] == "topk"]
    a = stats.timing_summary([wall(c) for c in admits])
    t = stats.timing_summary([wall(c) for c in topks])
    offered = sum(c["offered"] for c in admits)
    return {
        "admit_p50_s": a["p50"], "admit_tail_s": a["tail"],
        "admit_tail_pct": a["tail_pct"], "admit_n": a["n"],
        "topk_p50_s": t["p50"], "topk_tail_s": t["tail"],
        "topk_tail_pct": t["tail_pct"], "topk_n": t["n"],
        "ingest_vps": offered / sum(wall(c) for c in admits),
        "dup_recall": check_stats["dup_recall"],
        "topk_recall": check_stats["topk_recall"],
    }


def job_call(job, calls_by_id):
    group = job.get("group") or ""
    if group.startswith("call-"):
        return calls_by_id.get(int(group[5:]))
    return calls_by_id.get(job["call"])


def trace_run(raw, run_id):
    """Spans of the traced units and the per-call additivity check.

    Tree: unit → call → phase (operators.plan / operators.exec) →
    spark.jobs (the union of the call's job intervals inside the phase);
    unit → checkpoint.sweep. Sibling spans never overlap, so the self
    times of a call's subtree add up to its wall time."""
    calls = [c for c in raw["calls"] if c["unit"] in
             {u["id"] for u in raw["units"] if u["traced"]}]
    by_id = {c["id"]: c for c in calls}
    jobs_of = {}
    for j in raw["jobs"]:
        c = job_call(j, by_id)
        if c is not None and j["t1"] > 0:
            jobs_of.setdefault(c["id"], []).append(j)
    spans = []

    def span(name, t0, t1, parent, trace):
        spans.append({"id": len(spans) + 1, "name": name, "start": t0, "end": t1,
                      "parent": parent, "run_id": trace})
        return len(spans)

    for u in raw["units"]:
        if not u["traced"]:
            continue
        uid = span("unit", u["t0"], u["t1"], None, f"{run_id}/u{u['id']}")
        for a, b, _ in u["sweeps"]:
            span("checkpoint.sweep", a, b, uid, f"{run_id}/u{u['id']}")
        for c in (c for c in calls if c["unit"] == u["id"]):
            trace = f"{run_id}/c{c['id']}"
            cid = span(f"call.{c['kind']}", c["t0"], c["t1"], uid, trace)
            ivs = stats.merge((j["t0"], j["t1"]) for j in jobs_of.get(c["id"], []))
            for name, a, b in (("operators.plan", c["t0"], c["t_mid"]),
                               ("operators.exec", c["t_mid"], c["t1"])):
                if b <= a:
                    continue
                pid = span(name, a, b, cid, trace)
                for x, y in stats.clip(ivs, a, b):
                    span("spark.jobs", x, y, pid, trace)
    self_ns = stats.self_times(spans)
    for s in spans:
        s["self_s"] = self_ns[s["id"]] / 1e9
    # additivity: the self times of each call's subtree sum to its wall
    worst = 0.0
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree(s):
        return s["self_s"] + sum(subtree(k) for k in kids.get(s["id"], []))

    for s in spans:
        if s["name"].startswith("call."):
            worst = max(worst, abs(subtree(s) - (s["end"] - s["start"]) / 1e9))
    return spans, jobs_of, worst


def layer_metrics(raw, cores, jobs_of, check_stats):
    """Per-layer metrics of the traced unit."""
    u = next(u for u in raw["units"] if u["traced"])
    calls = [c for c in raw["calls"] if c["unit"] == u["id"]]
    js = [j for c in calls for j in jobs_of.get(c["id"], [])]
    acts = [a for a in raw["actions"] if a["call"] in {c["id"] for c in calls}]
    job_s = driver_s = 0.0
    for c in calls:
        a, b = stats.driver_split(c["t0"], c["t1"],
                                  [(j["t0"], j["t1"]) for j in jobs_of.get(c["id"], [])])
        job_s += a / 1e9
        driver_s += b / 1e9
    call_s = sum(wall(c) for c in calls)
    task_run_s = sum(j["task_run_ms"] for j in js) / 1e3
    m = {
        "core.session_s": raw["session_s"],
        "sources.schema_s": raw["schema_s"],
        "sources.bytes_read": sum(j["input_bytes"] for j in js),
        "sources.rows_read": sum(j["input_records"] for j in js),
        "sources.bytes_written": sum(j["output_bytes"] for j in js),
        "operators.plan_s": sum(c["t_mid"] - c["t0"] for c in calls) / 1e9,
        "operators.exec_s": sum(c["t1"] - c["t_mid"] for c in calls) / 1e9,
        "operators.memo_builds": sum(c["memo_builds"] for c in calls),
        "operators.memo_build_s": sum(c["memo_build_s"] for c in calls),
        "checkpoint.sweep_s": sum(b - a for a, b, _ in u["sweeps"]) / 1e9,
        "checkpoint.peak_cached_bytes": max([x for _, _, x in u["sweeps"]] or [0]),
        "spark.jobs": len(js),
        "spark.stages": sum(j["stages"] for j in js),
        "spark.tasks": sum(j["tasks"] for j in js),
        "spark.actions": len(acts),
        "spark.job_s": job_s,
        "spark.driver_s": driver_s,
        "spark.driver_frac": driver_s / call_s if call_s else 0.0,
        "spark.task_run_s": task_run_s,
        "spark.task_cpu_s": sum(j["task_cpu_ns"] for j in js) / 1e9,
        "spark.core_util": task_run_s / (job_s * cores) if job_s else 0.0,
        "spark.stage_wait_s": sum(j["stage_wait_ms"] for j in js) / 1e3,
        "spark.shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in js),
        "spark.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in js),
        "spark.spill_bytes": sum(j["spill_bytes"] for j in js),
        "spark.task_gc_s": sum(j["task_gc_ms"] for j in js) / 1e3,
        "spark.tasks_failed": sum(j["tasks_failed"] for j in js),
        "jvm.gc_s": u["gc_s"],
        "jvm.heap_retained_mb": raw["heap_retained_mb"],
    }
    m.update(stream_layer(calls, jobs_of, check_stats))
    # against the untraced unit after it, which runs warmer: an upper bound
    untraced = [unit_wall(x) for x in raw["units"] if not x["traced"]]
    m["trace_overhead"] = unit_wall(u) / statistics.median(untraced)
    return m


def stream_layer(calls, jobs_of, check_stats):
    """The streaming layer's figures for one episode (zero elsewhere)."""
    admits = [c for c in calls if c["kind"] == "admit"]
    topks = [c for c in calls if c["kind"] == "topk"]
    if not admits:
        return {k: 0 for k in (
            "sources.files_written", "streaming.admit_p50_s", "streaming.topk_p50_s",
            "streaming.incr_admit_p50_s", "streaming.rebuilds", "streaming.rebuild_batch_s",
            "streaming.admitted", "streaming.rejected", "streaming.store_bytes_per_vec",
            "streaming.write_bytes_per_vec", "streaming.ingest_vps",
            "streaming.dup_recall", "streaming.topk_recall")}
    incr = [wall(c) for c in admits if not c["rebuilt"]]
    rebuilt = [wall(c) for c in admits if c["rebuilt"]]
    last = max(admits, key=lambda c: c["batch"])
    files, store_bytes = last["store"]
    admitted = check_stats["admitted"]
    written = sum(j["output_bytes"] for c in admits for j in jobs_of.get(c["id"], []))
    return {
        "sources.files_written": files,
        "streaming.admit_p50_s": statistics.median(wall(c) for c in admits),
        "streaming.topk_p50_s": statistics.median(wall(c) for c in topks),
        "streaming.incr_admit_p50_s": statistics.median(incr) if incr else 0.0,
        "streaming.rebuilds": len(rebuilt),
        "streaming.rebuild_batch_s": statistics.median(rebuilt) if rebuilt else 0.0,
        "streaming.admitted": admitted,
        "streaming.rejected": check_stats["rejected"],
        "streaming.store_bytes_per_vec": store_bytes / admitted,
        "streaming.write_bytes_per_vec": written / admitted,
        "streaming.ingest_vps": sum(c["offered"] for c in admits) / sum(wall(c) for c in admits),
        "streaming.dup_recall": check_stats["dup_recall"],
        "streaming.topk_recall": check_stats["topk_recall"],
    }


# ---------------------------------------------------------------- checks

def check_queries(raw_run, run_dir, sf_dir):
    """Failed call ids, per-query failure messages, and the mean over
    queries of the share of oracle rows returned."""
    import check
    results = check.compare_queries(sf_dir, os.path.join(run_dir, "check"),
                                    raw_run["oracle_sql"], os.path.join(WORK, "oracle-cache"))
    bad = {n: msg for n, (ok, _, msg) in results.items() if not ok}
    bad.update(raw_run["check_errors"])
    names = {c["name"] for c in raw_run["calls"]}
    for n in sorted(names - set(raw_run["oracle_sql"])):
        bad[n] = "no oracleSql entry: output unchecked"
    failed = {c["id"] for c in raw_run["calls"] if c["error"] or c["name"] in bad}
    recall = statistics.mean(r for _, r, _ in results.values()) if results else 0.0
    return failed, bad, recall


def check_stream(stream, w, raw_run, run_dir):
    import check
    import pyarrow.parquet as pq
    failed, bad, agg = set(), {}, []
    by_unit = {}
    for c in raw_run["calls"]:
        by_unit.setdefault(c["unit"], []).append(c)
    for u, calls in sorted(by_unit.items()):
        corpus = os.path.join(run_dir, f"ep{u}", "corpus")
        ids = pq.read_table(corpus, columns=["vec_id"]).column(0).to_pylist() \
            if os.path.isdir(corpus) else []
        topk = {c["batch"]: c.get("rows", []) for c in calls if c["kind"] == "topk"}
        fails, st = check.check_episode(stream, ids, topk, w["max_cos"], w["k"])
        agg.append(st)
        for c in calls:
            key = (c["kind"], c["batch"])
            if c["error"] or key in fails or (c["kind"] == "admit" and ("admit", -1) in fails):
                failed.add(c["id"])
        for (kind, b), msg in fails.items():
            bad[f"episode {u} {kind} batch {b}"] = msg
    stats_ = {k: statistics.mean(s[k] for s in agg) for k in agg[0]} if agg else {}
    return failed, bad, stats_


# ---------------------------------------------------------------- main

def run(args):
    start = time.monotonic()
    load_start = os.getloadavg()[0]
    if args.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}")
    w = WORKLOADS[args.workload]
    for f in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, f)):
            raise BenchError(f"engine source {f} not found: run from the root of a checkout")
    sf_dir = fixture_dir()
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        raise BenchError(f"fixture tables not found at {sf_dir} (PERFBENCH_SF_DIR)")
    os.makedirs(WORK, exist_ok=True)
    build_t0 = time.monotonic()
    stamp = ensure_built()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # a build (first run in a checkout only) extends the run's deadline
    deadline = start + DEADLINE_S + (time.monotonic() - build_t0)
    cores = os.cpu_count() or 1
    common = {"workload": args.workload, "cores": cores, "sf": sf_dir,
              "trace": args.trace, "work": run_dir}

    gen_t0 = time.monotonic()
    stream = None
    if w["kind"] == "stream":
        import gen
        stream = gen.Stream(args.seed, w["sizes"], w["planted_per_batch"], w["panel"])
        vec_dir = os.path.join(run_dir, "inputs")
        os.makedirs(vec_dir)
        stream.write(vec_dir)
        common.update(vec_dir=vec_dir, batches=len(w["sizes"]), k=w["k"],
                      max_cos=w["max_cos"], warmup_batches=w["warmup_batches"])
    else:
        order = list(w["queries"])
        random.Random(args.seed).shuffle(order)
        common.update(queries=",".join(order),
                      fresh_session=str(w["fresh_session"]).lower())
    gen_s = time.monotonic() - gen_t0

    n_units = max(1, round(args.seconds / w["unit_s"]))
    if args.trace:
        n_units = max(n_units, 2)   # traced, then untraced: see trace_overhead
    params = dict(common, units=n_units)
    if w["kind"] == "queries":
        params["check_dir"] = os.path.join(run_dir, "check")
    raw, launched = launch_harness(run_dir, deadline, params)
    setup_s = setup_seconds(raw, launched, gen_s)
    if w["kind"] == "stream":
        for c in raw["calls"]:
            c["batch"] = int(c["name"].split("_")[1])
            c["offered"] = stream.bounds[c["batch"] + 1] - stream.bounds[c["batch"]]
        failed, bad, check_stats = check_stream(stream, w, raw, run_dir)
        recall = check_stats["topk_recall"]
    else:
        failed, bad, recall = check_queries(raw, run_dir, sf_dir)
        check_stats = {}
    if raw.get("warmup_error"):
        bad["warm-up"] = raw["warmup_error"]

    calls = raw["calls"]
    for c in calls:
        if c["error"]:
            bad.setdefault(f"{c['kind']} {c['name']}", c["error"])
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "commit": commit_id(stamp), "cores": cores, "spark_version": raw["spark_version"],
        "sf_dir": sf_dir, "load1_start": load_start, "load1_end": os.getloadavg()[0],
        "units": len(raw["units"]), "calls": len(calls),
        "fail_frac": len(failed) / len(calls) if calls else 1.0,
        "failures": bad,
    }
    if w["kind"] == "stream":
        detail.update(stream_figures(raw, check_stats))
    else:
        q = stats.timing_summary([wall(c) for c in calls])
        detail.update(query_p50_s=q["p50"], query_tail_s=q["tail"],
                      query_tail_pct=q["tail_pct"], query_n=q["n"])
    if args.trace:
        run_id = f"{args.workload}-seed{args.seed}"
        spans, jobs_of, worst = trace_run(raw, run_id)
        metrics = {k: (v, layer_unit(k)) for k, v in layer_metrics(
            raw, cores, jobs_of, check_stats).items()}
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        span_file = os.path.join(WORK, "trace", f"{run_id}.json")
        with open(span_file, "w") as fh:
            json.dump({"run_id": run_id, "spans": spans, "jobs": raw["jobs"],
                       "actions": raw["actions"]}, fh)
        detail.update(span_file=os.path.relpath(span_file, ROOT), spans=len(spans),
                      span_self_time_max_error_s=worst)
        if worst > 1e-6:
            bad["trace"] = f"span self times miss a call's wall time by {worst} s"
    else:
        metrics = e2e_metrics(w, raw, setup_s, recall)
    attempted = len(calls)
    result = {
        "correct": not bad and bool(calls),
        "attempted": attempted,
        "failed": len(failed) if calls else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.startswith("sources.bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_vps"):
        return "1/s"
    if name.endswith("_per_vec"):
        return "bytes/vec"
    if name.endswith(("_frac", "_util", "_recall", "overhead")):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        run(args)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
