#!/usr/bin/env python3
"""Seeded benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload curate|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark program with sbt (offline) into `.bench_build/`; later runs reuse
the build while the sources are unchanged. One JVM then sets up the
workload, runs its timed loop and writes a raw record; this script checks
the outputs against DuckDB and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (see README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# the JVM's share of a run's 180 s limit (the build, on a first run, is not
# counted); the checks after it take a few seconds
JVM_LIMIT_S = 160
# Input scale and load of each workload. Curate: one pass (the job) per
# `seconds_per_pass` of --seconds, at least one. Ingest: `rate` arrivals
# per second for --seconds, each `rows` events from `users` users, after
# `warm` untimed arrivals; maintenance every `maint_every` batches; a
# pinned read every `read_every_ms`.
WORKLOADS = {
    "curate": {"sf": 0.003, "seconds_per_pass": 30},
    "ingest": {"rate": 2.0, "rows": 200, "users": 500, "warm": 8, "maint_every": 3,
               "read_every_ms": 2000},
}
# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add.
ADD_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def die(msg, log=None):
    print(f"perfbench: {msg}", file=sys.stderr)
    if log and os.path.exists(log):
        with open(log, errors="replace") as f:
            print("".join(f.readlines()[-40:]), file=sys.stderr)
    sys.exit(1)


def source_digest():
    """Digest of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for p in files:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt once per source state; returns the
    runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=800)
    if rc != 0:
        die(f"build failed (sbt exit {rc})", log)
    lines = [l.strip() for l in open(log) if "scala-2.13/classes" in l and ":" in l
             and not l.startswith("[")]
    if not lines:
        die("build printed no classpath", log)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def make_inputs(args, work):
    """Generate the run's inputs; returns (JVM parameters, seconds taken)."""
    w = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    if args.workload == "ingest":
        timed = max(10, round(w["rate"] * args.seconds))
        gen.arrivals(os.path.join(work, "arrivals"), args.seed, 1 + w["warm"] + timed,
                     w["rows"], w["users"])
        params = {k: w[k] for k in ("rate", "warm", "maint_every", "read_every_ms")}
    else:
        gen.tables(os.path.join(work, "input"), args.seed, w["sf"])
        params = {"passes": max(1, round(args.seconds / w["seconds_per_pass"]))}
    return params, time.perf_counter() - t0


def run_jvm(cp, args, work, params, deadline):
    raw = os.path.join(work, "raw.json")
    log = os.path.join(work, "jvm.log")
    env = dict(os.environ, GRAFT_FIXTURE_DIR=os.path.join(work, "fixtures"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp"] + ADD_OPENS +
           ["-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.trace), work,
            os.path.join(HERE, "spark.conf"), raw] +
           [f"{k}={v}" for k, v in params.items()])
    os.makedirs(os.path.join(work, "tmp"))
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die("the run exceeded its time limit", log)
    if rc != 0 or not os.path.exists(raw):
        die(f"the benchmark JVM failed (exit {rc})", log)
    with open(raw) as f:
        return json.load(f)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def setup_metrics(raw, gen_s):
    """Set-up: input generation, the median session start of the repeated
    rounds, the first-touch fixture publish (median over rounds where it
    repeats), and the warm-up."""
    return {
        "setup_s": gen_s + med(raw["session_s"]) + med(raw["fixture_publish_s"]) + raw["warmup_s"],
        "setup.input_gen_s": gen_s,
        "setup.session_s": med(raw["session_s"]),
        "setup.fixture_publish_s": med(raw["fixture_publish_s"]),
        "setup.warmup_s": raw["warmup_s"],
    }


def curate_metrics(raw, bad_cells):
    """An op is one pass of the curation job (its cells' calls back to
    back); `attempted` and `failed` count the cell calls."""
    ops = raw["ops"]
    lat = [(o["t1"] - o["t0"]) / 1e6 for o in ops]
    passes = {}
    for o, x in zip(ops, lat):
        passes[o["pass"]] = passes.get(o["pass"], 0.0) + x
    jobs = list(passes.values())
    pct, tail = benchlib.tail(jobs)
    failed = benchlib.count_failed(ops, bad_cells)
    e2e = {"wall_s": sum(lat), "op_p50_s": benchlib.quantile(jobs, 0.5), "op_tail_s": tail}
    by_cell = {}
    for o, x in zip(ops, lat):
        by_cell.setdefault(o["cell"], []).append(x)
    layer = {f"cell.{c}_s": med(xs) for c, xs in by_cell.items()}
    layer["op_tail_pct"] = pct
    layer["ops"] = len(jobs)
    layer["ops_failed_frac"] = benchlib.failure_share(len(ops), failed)
    tr = raw.get("trace")
    if tr:
        # per cell call
        n = len(ops)
        stats = [tr["ops"].get(o["op"], {}) for o in ops]

        def per_op(key, scale=1.0):
            return sum(s.get(key, 0) for s in stats) * scale / n
        layer.update({
            "plans.analysis_s": per_op("analysis_ms", 1e-3),
            "plans.optimization_s": per_op("optimization_ms", 1e-3),
            "plans.planning_s": per_op("planning_ms", 1e-3),
            "plans.actions": per_op("actions"),
            "core.pins": per_op("pins"), "core.pin_s": per_op("pin_ms", 1e-3),
        })
        layer.update(spark_layer(stats, n))
        # time of a call outside its planning phases and Spark jobs
        kids = {}
        for s in tr["job_spans"] + tr["plan_spans"]:
            kids.setdefault(s["op"], []).append((s["t0"], s["t1"]))
        layer["op.self_s"] = med([benchlib.self_time((o["t0"], o["t1"]), kids.get(o["op"], []))
                                  / 1e6 for o in ops])
        layer["trace.overhead_frac"] = (tr["drain_s"] + tr["callback_s"]) / e2e["wall_s"]
    return e2e, layer, len(ops), failed


def spark_layer(stats, n):
    def per(key, scale=1.0):
        return sum(s.get(key, 0) for s in stats) * scale / n
    return {
        "spark.jobs": per("jobs"), "spark.stages": per("stages"), "spark.tasks": per("tasks"),
        "spark.task_s": per("task_ms", 1e-3), "spark.task_cpu_s": per("cpu_ns", 1e-9),
        "spark.gc_s": per("gc_ms", 1e-3), "spark.sched_delay_s": per("sched_ms", 1e-3),
        "spark.input_mb": per("input_bytes", 1e-6),
        "spark.shuffle_read_mb": per("shuffle_read", 1e-6),
        "spark.shuffle_write_mb": per("shuffle_write", 1e-6),
        "spark.spill_mb": per("spill", 1e-6),
    }


def ingest_metrics(raw, bad_files):
    file_batch = benchlib.read_source_log(raw["source_log"])
    prog = {p["batch"]: p for p in raw["progress"]}
    arrivals = raw["arrivals"]
    lags, missing = benchlib.arrival_lags(arrivals, file_batch, raw["progress"])
    reads = raw["reads"]
    read_lat = [(r["t1"] - r["t0"]) / 1e6 for r in reads if r["ok"]]
    failed_arr = {a["file"] for a in arrivals if a["file"] in set(missing) | set(bad_files)}
    failed = len(failed_arr) + sum(1 for r in reads if not r["ok"])
    attempted = len(arrivals) + len(reads)
    timed = sorted({file_batch[a["file"]] for a in arrivals if a["file"] in file_batch})
    commits = [benchlib.commit_end_us(prog[b]) for b in timed if b in prog]
    pct, tail = benchlib.tail(lags) if lags else (0, 0.0)
    e2e = {"wall_s": (max(commits) - arrivals[0]["due"]) / 1e6 if commits else 0.0,
           "op_p50_s": benchlib.quantile(lags, 0.5) if lags else 0.0, "op_tail_s": tail}
    nb = max(1, len(timed))
    dur = lambda k: sum(prog[b]["durations_ms"].get(k, 0) for b in timed if b in prog) / 1e3 / nb
    stage = {b["batch"]: b for b in raw["batches"]}
    closure = [(stage[b]["stage_t1"] - stage[b]["maint_t0"]) / 1e6 for b in timed if b in stage]
    maint = [(stage[b]["maint_t1"] - stage[b]["maint_t0"]) / 1e6 for b in timed if b in stage]
    outside = [(prog[file_batch[a["file"]]]["trigger_start_ms"] * 1000 - a["due"]) / 1e6
               for a in arrivals if file_batch.get(a["file"]) in prog]
    add_batch = dur("addBatch")
    layer = {
        "ops": len(arrivals), "op_tail_pct": pct,
        "ops_failed_frac": benchlib.failure_share(attempted, failed),
        "read_p50_s": med(read_lat),
        "bytes_stored_per_input_byte": raw["stored_bytes"] / raw["input_bytes"],
        "streaming.batches": len(timed),
        "streaming.addBatch_s": add_batch,
        "streaming.queryPlanning_s": dur("queryPlanning"),
        "streaming.walCommit_s": dur("walCommit"),
        "streaming.commitOffsets_s": dur("commitOffsets"),
        "streaming.latestOffset_s": dur("latestOffset"),
        "streaming.outside_trigger_s": statistics.mean(outside) if outside else 0.0,
        "txn.stage_s": (sum(closure) - sum(maint)) / nb,
        "txn.commit_s": add_batch - sum(closure) / nb,
        "txn.read_s": statistics.mean(read_lat) if read_lat else 0.0,
        "snapshot.maint_s": sum(maint) / nb,
        "snapshot.log_files": raw["log_files"],
        "ingest.gen_late_max_s": max((a["renamed"] - a["due"]) / 1e6 for a in arrivals),
        "ingest.backlog_max": benchlib.backlog_max(arrivals, file_batch, prog),
    }
    if lags:
        # the parts of the lag the stream phases and the txn layer explain
        before = sum(dur(k) for k in ("latestOffset", "walCommit", "getBatch", "queryPlanning"))
        layer["streaming.lag_accounted_frac"] = (
            layer["streaming.outside_trigger_s"] + before + add_batch) / statistics.mean(lags)
    tr = raw.get("trace")
    if tr:
        st = tr["ops"]
        stream = st.get("stream", {})
        layer.update(spark_layer([stream], nb))
        plan = st.get("ingest", {})
        layer.update({
            "plans.analysis_s": plan.get("analysis_ms", 0) / 1e3 / nb,
            "plans.optimization_s": plan.get("optimization_ms", 0) / 1e3 / nb,
            "plans.planning_s": plan.get("planning_ms", 0) / 1e3 / nb,
            "plans.actions": plan.get("actions", 0) / nb,
            "core.pins": sum(s.get("pins", 0) for s in st.values()) / nb,
            "core.pin_s": sum(s.get("pin_ms", 0) for s in st.values()) / 1e3 / nb,
        })
        layer["snapshot.files_written"] = plan.get("files_written", 0) / nb
        layer["snapshot.mb_written"] = plan.get("bytes_written", 0) / 1e6 / nb
        layer["trace.overhead_frac"] = tr["callback_s"] / ((raw["end"] - raw["start"]) / 1e6)
    return e2e, layer, attempted, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no engine sources here ({need} is missing): run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    cp = build()
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    deadline = time.time() + JVM_LIMIT_S
    params, gen_s = make_inputs(args, work)
    raw = run_jvm(cp, args, work, params, deadline)
    metrics = setup_metrics(raw, gen_s)
    if args.workload == "ingest":
        bad_files, problems = oracle.check_ingest(raw, work)
        errors = [f"read: {r['err']}" for r in raw["reads"] if not r["ok"]]
        e2e, layer, attempted, failed = ingest_metrics(raw, bad_files)
        if raw.get("stream_error"):
            problems.append(f"stream failed: {raw['stream_error']}")
    else:
        bad_cells, problems = oracle.check_cells(raw, work)
        e2e, layer, attempted, failed = curate_metrics(raw, bad_cells)
        problems += [f"{o['cell']} ({o['op']}): {o['err']}" for o in raw["ops"]
                     if not o["ok"] and not o["raised"]]
        errors = [f"{o['cell']} ({o['op']}): {o['err']}" for o in raw["ops"] if o["raised"]]
    metrics.update(e2e)
    metrics.update(layer)
    metrics["jvm.heap_live_mb"] = raw["heap_live_mb"]
    for p in problems:
        print(f"perfbench: WRONG {p}", file=sys.stderr)
    for e in errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    # every metric this run measured, including those not asked for
    with open(os.path.join(work, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=1, sort_keys=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    # `correct`: every output the run produced checked out; ops that raised
    # produced none and count in `failed` instead
    out = {"correct": not problems, "attempted": attempted, "failed": failed,
           "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in wanted}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
