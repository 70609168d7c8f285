#!/usr/bin/env python3
"""Per-change benchmark of the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: medallion, recsys_stream (see perfbench/README.md). The first run in a checkout builds the engine
and the benchmark from source with sbt and generates the base tables;
later runs reuse both. Each run launches one JVM with the engine's own
launch settings, runs the workload's fixed measured passes (they outlast
S seconds on a 4-core host, so S sets no limit), checks its outputs
against ``expected.json``, prints a report, and prints one JSON
line last: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. A wrong output makes the run exit non-zero.

``--record-expected`` rewrites ``expected.json`` from this run's outputs
(only after validating them, see README.md); ``--write-benchmark-json``
alone writes the repository's ``BENCHMARK.json`` from the lists below."""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
WORKLOADS = ("medallion", "recsys_stream")
DATA_VERSION = "base-v1"
RUN_LIMIT_S = 170          # a run must end within 180 s
LATENCY_LIMIT_MS = 2000.0  # stream ladder: p50 latency bound per rung
MiB = float(1 << 20)

RUN_SECONDS = 10
WHY = {
    "medallion": "closed loop, 1 caller: bronze JSONL to silver, gold, "
                 "curation and 3 increments; the only writing path (sources, "
                 "silver, quality, gold, curation, ml)",
    "recsys_stream": "closed loop, 1 client: 4 recsys queries (functions "
                     "kernels, checkpoint pins, shuffle), twice; then open "
                     "loop: rate ladder 1k/4k/16k ev/s on the streaming state "
                     "store",
}
END_TO_END = [("setup_s", "s"), ("cold_start_s", "s"), ("pass_s", "s"),
              ("op_p50_ms", "ms")]
# Passes of the closed-loop list a run measures: the cold one, plus for the
# shorter recsys list a second (re-planned, warm-codegen) pass, so that a
# run measures enough work to average out short host stalls.
PASSES = {"medallion": 1, "recsys_stream": 2}
# share of the parent's median a metric may worsen by; the largest allowed,
# because host steal alone moves a run by 10-15 %
BOUND = 0.25
HIGHER_IS_BETTER = {"sources.wellformed_frac", "silver.retention_frac",
                    "curation.kept_frac", "spark.busy_frac"}
RECSYS = ["q219_item_cf", "q36_co_occurrence", "q223_association_rules",
          "q82_pagerank"]
LAYER_SPANS = [
    "sources.bronze_scan", "sources.write", "silver.clickstream",
    "silver.users", "silver.products", "quality.gate",
    "gold.user_summary", "gold.product_summary", "gold.daily_stats",
    "gold.engagement_metrics", "gold.enriched_events",
    "gold.increment_merge", "app.incremental_silver",
    "curation.dedup", "ml.classifier_train", "curation.quality",
    "ml.mixture", "curation.bound", "curation.chunk_dedup",
    "queries.build", "queries.plan", "queries.exec", "functions.release"]
PER_LAYER = (
    [("peak_heap_mb", "MiB"),
     ("trace.pass_s", "s"), ("trace.overhead_s", "s"),
     ("sources.bronze_rows", "count"), ("sources.wellformed_frac", "ratio"),
     ("sources.bytes_written", "bytes"), ("sources.files_written", "count"),
     ("silver.retention_frac", "ratio"), ("gold.state_bytes", "bytes"),
     ("curation.kept_frac", "ratio")]
    + [(f"{s}_s", "s") for s in LAYER_SPANS]
    + [(f"queries.{q}_s", "s") for q in RECSYS]
    + [("plan.exchanges", "count"), ("functions.persisted_rdds", "count"),
       ("functions.peak_storage_mb", "MiB")]
    + [("spark.jobs", "count"), ("spark.stages", "count"),
       ("spark.tasks", "count"), ("spark.driver_gap_s", "s"),
       ("spark.shuffle_write_bytes", "bytes"),
       ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
       ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
       ("spark.busy_frac", "ratio"), ("spark.gc_s", "s")]
    + [("streaming.batch_s", "s"), ("streaming.batches", "count"),
       ("streaming.rows_per_batch", "count"), ("streaming.state_rows", "count"),
       ("streaming.state_mb", "MiB"), ("streaming.state_commit_s", "s"),
       ("streaming.backlog_events", "count"),
       ("streaming.generator_lag_ms", "ms"),
       ("streaming.latency_p50_ms", "ms")])


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- environment

def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_mem():
    """SPARK_DRIVER_MEM as the repository's test command computes it:
    half of MemTotal in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def engine_env(extra=None):
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    env["SPARK_DRIVER_MEM"] = driver_mem()
    env.pop("SPARK_GRAFT_MASTER", None)
    env.update(extra or {})
    return env


# ---------------------------------------------------------------------- build

def fingerprint():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(driver_mem().encode())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark (once per source state) and
    return (classpath, jvm options) from the root build's settings."""
    for need in (os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            sys.exit(f"[perfbench] no engine sources here ({need} missing)")
    os.makedirs(BUILD, exist_ok=True)
    spec = os.path.join(BUILD, "launch.txt")
    stamp = os.path.join(BUILD, "launch.fingerprint")
    fp = fingerprint()
    if not (os.path.exists(spec) and os.path.exists(stamp)
            and open(stamp).read() == fp):
        log("building engine and benchmark with sbt")
        repo_conf = os.path.expanduser("~/.sbt/repositories")
        sbt_opts = ["-Dsbt.offline=true", "-Xmx2g",
                    "-Dsbt.server.forcestart=false"]
        if os.path.exists(repo_conf):
            sbt_opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repo_conf}"]
        env = engine_env({"COURSIER_MODE": "offline",
                          "SBT_OPTS": " ".join(sbt_opts)})
        t0 = time.time()
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "launchSpec"], cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=880)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            sys.exit("[perfbench] build failed")
        shutil.copyfile(os.path.join(HERE, "target", "launch.txt"), spec)
        with open(stamp, "w") as fh:
            fh.write(fp)
        log(f"built in {time.time() - t0:.1f}s")
    lines = open(spec).read().splitlines()
    return lines[0], [x for x in lines[1:] if x], fp


def base_data():
    d = os.path.join(BUILD, "data", DATA_VERSION)
    if not os.path.exists(os.path.join(d, "_DONE")):
        log("generating base tables")
        shutil.rmtree(d, ignore_errors=True)
        gen.base_tables(d)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


# ------------------------------------------------------------------------ run

def host_cpu():
    """(steal, iowait) seconds of the whole host so far, from /proc/stat:
    time the run lost to other tenants and to disk waits."""
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
        hz = os.sysconf("SC_CLK_TCK")
        return int(f[8]) / hz, int(f[5]) / hz
    except (OSError, IndexError, ValueError):
        return 0.0, 0.0


def launch(args, cp, opts, data, inputs, work, deadline):
    out = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = engine_env({"SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local")})
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    host0 = host_cpu()
    spawn_us = int(time.time() * 1e6)
    cmd = [java, *opts, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--data", data, "--inputs", inputs,
           "--work", work, "--out", out, "--trace", str(args.trace),
           "--passes", str(PASSES[args.workload]), "--spawn-us", str(spawn_us),
           "--deadline-us", str(int(deadline * 1e6))]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        sys.stderr.write(tail)
        sys.exit(f"[perfbench] benchmark JVM failed (exit {rc})")
    host1 = host_cpu()
    with open(out) as fh:
        raw = json.load(fh)
    raw["host_steal_s"] = host1[0] - host0[0]
    raw["host_iowait_s"] = host1[1] - host0[1]
    return raw


# -------------------------------------------------------------------- metrics

def spark_counters(ops, jobs, cores):
    """Listener counters summed over the given operations."""
    js, gap, wall = [], 0.0, 0.0
    for op in ops:
        mine = M.jobs_of(op, jobs)
        js += mine
        w = (op["start_us"] / 1000.0, op["end_us"] / 1000.0)
        wall += (w[1] - w[0]) / 1000.0
        gap += M.driver_gap(w, [(j["start_ms"], j["end_ms"] if j["end_ms"] > 0
                                 else w[1]) for j in mine]) / 1000.0
    run_s = sum(j["run_ms"] for j in js) / 1000.0
    return {
        "spark.jobs": len(js), "spark.stages": sum(j["stages"] for j in js),
        "spark.tasks": sum(j["tasks"] for j in js),
        "spark.driver_gap_s": gap,
        "spark.shuffle_write_bytes": sum(j["shuffle_write"] for j in js),
        "spark.shuffle_read_bytes": sum(j["shuffle_read"] for j in js),
        "spark.spill_bytes": sum(j["spill"] for j in js),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(j["cpu_ns"] for j in js) / 1e9,
        "spark.busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
        # JVM-wide collection time during the operations; per-task GC
        # times would count one pause once per task running through it
        "spark.gc_s": sum(op["gc_ms"] for op in ops) / 1000.0,
    }


def dur(op):
    return (op["end_us"] - op["start_us"]) / 1e6


def by_pass(ops):
    out = {}
    for op in ops:
        out.setdefault(op["pass"], []).append(op)
    return [out[k] for k in sorted(out)]


def measured(raw):
    """Operations of the run's measured passes (the first ``PASSES``
    ones; the first is cold, like a job's CLI launch). Every figure of a
    run comes from them, so runs compare like with like."""
    n = PASSES[raw["workload"]]
    return [o for o in raw["ops"] if o["pass"] <= n]


def stream_analysis(raw):
    st = raw["extra"]["stream"]
    base = st["base_us"]
    sched = raw["_schedule"]
    due = [base + r[0] for r in sched]
    phase = [r[6] for r in sched]
    n = len(sched)
    lags = []
    for s in st["sends"]:
        for i in range(s["first"], s["first"] + s["count"]):
            lags.append((s["send_us"] - due[i]) / 1000.0)
    commit = [None] * n
    done = 0
    commits = []
    for b in sorted(st["sink_batches"], key=lambda b: b["batch"]):
        for i in range(done, min(n, done + b["events"])):
            commit[i] = b["commit_us"]
        done += b["events"]
        commits.append((b["commit_us"], done))
    lat = {}
    for i in range(n):
        if commit[i] is not None:
            lat.setdefault(phase[i], []).append((commit[i] - due[i]) / 1000.0)
    sends_sorted = sorted((s["send_us"], s["first"] + s["count"])
                          for s in st["sends"])

    def sent_by(t):
        k = 0
        for ts, upto in sends_sorted:
            if ts > t:
                break
            k = upto
        return k

    rungs, backlog_max = [], {}
    for rate, _ in gen.STREAM_LADDER:
        name = f"rate{rate}"
        idx = [i for i in range(n) if phase[i] == name]
        if not idx:
            continue
        t0, t1 = due[idx[0]], due[idx[-1]]
        samples = [((t - t0) / 1e6, sent_by(t) - d) for t, d in commits
                   if t0 <= t <= t1]
        backlog_max[rate] = max([b for _, b in samples], default=0)
        p50 = statistics.median(lat[name]) if lat.get(name) else None
        rungs.append((rate, p50, M.backlog_growing(samples, rate)))
    return {"latency": lat, "rungs": rungs,
            "lags": lags, "backlog_max": backlog_max,
            "processed": done, "planned": n}


def end_to_end(raw, w):
    """The workload's end-to-end figures, all from the run's measured
    passes, plus the report's named metrics."""
    setup = [u / 1e6 for u in raw["setup_us"]]
    first = measured(raw)
    # the first set-up counts from the JVM's spawn; the later ones rebuild
    # the session in the warm JVM
    out = {"setup_s": statistics.median(setup[1:]), "cold_start_s": setup[0],
           "pass_s": sum(dur(o) for o in first)}
    named = {"passes": len(by_pass(raw["ops"])),
             "host.steal_s": raw["host_steal_s"],
             "host.iowait_s": raw["host_iowait_s"]}
    if w == "medallion":
        inc = [dur(o) for o in first if o["kind"] == "increment"]
        out["op_p50_ms"] = statistics.median(inc) * 1000.0
        t = M.tail(inc)
        named.update({
            "medallion_gold_s": sum(dur(o) for o in first if o["name"] in
                                    ("silver_job", "gold_job")),
            "medallion_curation_s": sum(dur(o) for o in first
                                        if o["name"] == "curation_job"),
            "increment_p50_s": statistics.median(inc),
            "increment_tail_s": t and t[1], "increment_tail_pct": t and t[0],
            "increment_samples": len(inc)})
        return out, named
    # the gated latency is the queries'; the stream's latency moved with
    # host stalls by a third of its median between runs, so it is reported
    # (here and as a per-layer metric) but not gated
    q = [dur(o) for o in first]
    out["op_p50_ms"] = statistics.median(q) * 1000.0
    sa = raw["_stream"]
    ref = sa["latency"].get(f"rate{gen.STREAM_REFERENCE_RATE}", [])
    t = M.tail(ref) if ref else None
    named.update({
        "recsys_pass_s": out["pass_s"],
        "recsys_query_p50_s": statistics.median(q),
        **{f"recsys.{o['name']}_pass{o['pass']}_s": dur(o) for o in first},
        "stream_latency_p50_ms": statistics.median(ref) if ref else None,
        "stream_latency_tail_ms": t and t[1],
        "stream_latency_tail_pct": t and t[0],
        "stream_latency_samples": len(ref),
        "stream_max_eps": M.max_rate(sa["rungs"], LATENCY_LIMIT_MS),
        "stream_rungs": sa["rungs"]})
    return out, named


def per_layer(raw, w, untraced_pass_s):
    """Per-layer figures of a traced run: layer times from its spans,
    listener counters from its pass, and tracing overhead as its pass
    minus the median pass of the untraced runs made in this checkout
    (0 when there was none yet). A layer the workload does not run
    reads 0."""
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["peak_heap_mb"] = raw["peak_old_gen_bytes"] / MiB
    for s in raw["spans"]:
        length = (s["end_us"] - s["start_us"]) / 1e6
        if f"{s['name']}_s" in m:
            m[f"{s['name']}_s"] += length
        if s["name"].startswith("query:"):
            m[f"queries.{s['name'][6:]}_s"] += length
    first = measured(raw)
    m.update(spark_counters(first, raw["jobs"], raw["cores"]))
    m["trace.pass_s"] = sum(dur(o) for o in first)
    if untraced_pass_s:
        m["trace.overhead_s"] = m["trace.pass_s"] - untraced_pass_s
    m["functions.peak_storage_mb"] = max(
        (o["peak_storage_bytes"] for o in first), default=0) / MiB
    if w == "recsys_stream":
        m["plan.exchanges"] = sum(max(o["exchanges"], 0) for o in first)
        m["functions.persisted_rdds"] = sum(o["persisted_rdds"] for o in first)
        sa = raw["_stream"]
        st = raw["extra"]["stream"]
        prog = [p for p in st["progress"] if p["rows"] > 0]
        if prog:
            m["streaming.batch_s"] = statistics.median(
                p["trigger_ms"] for p in prog) / 1000.0
            m["streaming.rows_per_batch"] = statistics.median(
                p["rows"] for p in prog)
        m["streaming.batches"] = st["monitor_batches"]
        m["streaming.state_rows"] = max(
            (p["state_rows"] for p in st["progress"]), default=0)
        m["streaming.state_mb"] = max(
            (p["state_bytes"] for p in st["progress"]), default=0) / MiB
        m["streaming.state_commit_s"] = sum(
            p["state_commit_ms"] for p in st["progress"]) / 1000.0
        m["streaming.backlog_events"] = sa["backlog_max"].get(
            gen.STREAM_REFERENCE_RATE, 0)
        m["streaming.generator_lag_ms"] = (
            statistics.fmean(sa["lags"]) if sa["lags"] else 0.0)
        ref = sa["latency"].get(f"rate{gen.STREAM_REFERENCE_RATE}", [])
        m["streaming.latency_p50_ms"] = statistics.median(ref) if ref else 0.0
        return m
    ex = raw["extra"]
    topics = [v for k, v in ex.items() if k.startswith("topic_")]
    rows = sum(t["bronze_rows"] for t in topics)
    m["sources.bronze_rows"] = rows
    if rows:
        m["sources.wellformed_frac"] = sum(
            t["wellformed_rows"] for t in topics) / rows
        m["silver.retention_frac"] = sum(t["silver_rows"] for t in topics) / rows
    mp = ex.get("medallion_pass1", {})
    m["gold.state_bytes"] = mp.get("state_bytes", 0)
    m["sources.bytes_written"], m["sources.files_written"] = mp.get(
        "written", [0, 0])
    cm = [c["got"] for c in raw["checks"]
          if c["kind"] == "curation" and c["name"] == "metrics"]
    if cm and cm[0]["docsIn"]:
        m["curation.kept_frac"] = cm[0]["afterBound"] / cm[0]["docsIn"]
    return m


# --------------------------------------------------------------------- checks

def expected_key(c):
    return f"{c['kind']}/{c['name']}"


def verify(raw, w, sizes, expected):
    """Output checks of the run. Returns (attempted, failed, problems)."""
    problems = []
    ops = raw["ops"]
    attempted = len(ops)
    for o in ops:
        if not o["ok"]:
            problems.append(f"{o['name']} (pass {o['pass']}) failed: {o['err']}")
    comparable = []
    for c in raw["checks"]:
        if c["kind"] == "topic":
            got = dict(c["got"])
            lines = sizes[{"clickstream": "bronze_clickstream_lines",
                           "user": "bronze_user_lines",
                           "product": "bronze_product_lines"}[c["name"]]]
            if got.pop("read") != lines:
                problems.append(f"topic {c['name']}: read != {lines} bronze lines")
            comparable.append({**c, "got": got})
        elif c["kind"] == "stream":
            g = c["got"]
            if g["mismatched_keys"] or g["rows"] != g["batch_rows"] \
                    or g["rows"] != raw["_stream"]["planned"]:
                problems.append(f"stream deltas differ from the batch form: {g}")
        else:
            comparable.append(c)
    if w == "recsys_stream":
        attempted += raw["_stream"]["planned"]
        lost = raw["_stream"]["planned"] - raw["_stream"]["processed"]
        if lost:
            problems.append(f"stream: {lost} events never committed")
    if expected is not None:
        _, bad = M.check_outputs(expected, comparable)
        problems += [f"{k}: {why}" for k, why in bad]
    # each failed operation and each wrong output is one failure
    failed = len(problems)
    return attempted, min(failed, attempted), problems


# ----------------------------------------------------------------------- main

def main():
    if sys.argv[1:] == ["--write-benchmark-json"]:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as fh:
            fh.write(json.dumps(benchmark_json(), indent=2) + "\n")
        return
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args()
    t_start = time.time()
    cp, opts, fp = build()
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        fp = hashlib.sha256(fp.encode() + fh.read()).hexdigest()[:16]
    data = base_data()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        sizes = gen.seeded_inputs(data, inputs, args.seed, args.workload)
        raw = launch(args, cp, opts, data, inputs, work, deadline)
        if args.workload == "recsys_stream":
            with open(os.path.join(inputs, "stream_events.tsv")) as fh:
                raw["_schedule"] = [ln.rstrip("\n").split("\t") for ln in fh]
            for r in raw["_schedule"]:
                r[0] = int(r[0])
            raw["_stream"] = stream_analysis(raw)
        exp_path = os.path.join(HERE, "expected.json")
        expected = None
        if os.path.exists(exp_path) and not args.record_expected:
            with open(exp_path) as fh:
                expected = json.load(fh)
        attempted, failed, problems = verify(raw, args.workload, sizes, expected)
        if args.record_expected:
            record_expected(exp_path, raw, problems)
        e2e, named = end_to_end(raw, args.workload)
        layers = per_layer(raw, args.workload,
                           pass_history(args.workload, fp, e2e["pass_s"],
                                        args.trace))
        named["failed_frac"] = min(len(problems), attempted) / attempted
        report(args, raw, sizes, e2e, named, layers, problems, t_start)
        # the run's record: every figure, and in a traced run every span
        # with the self times computed from them
        with open(os.path.join(BUILD, f"last_{args.workload}.json"), "w") as fh:
            json.dump({"end_to_end": e2e, "named": named, "per_layer": layers,
                       "problems": problems, "sizes": sizes,
                       "host": raw["host"], "cores": raw["cores"],
                       "heap_max_bytes": raw["heap_max_bytes"],
                       "self_times": self_time_summary(raw),
                       "spans": raw["spans"], "ops": raw["ops"]}, fh, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = dict(END_TO_END) if args.trace == 0 else dict(PER_LAYER)
    values = e2e if args.trace == 0 else layers
    result = {"correct": not problems, "attempted": attempted,
              "failed": failed if problems else 0,
              "metrics": {k: {"value": values[k], "unit": units[k]}
                          for k in units}}
    print(json.dumps(result))
    sys.exit(1 if problems else 0)


def benchmark_json():
    """The content of the repository's BENCHMARK.json."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w, "why": WHY[w]} for w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": "lower",
                        "bound": BOUND} for n, u in END_TO_END],
        "per_layer": [{"name": n, "unit": u,
                       "better": "higher" if n in HIGHER_IS_BETTER else "lower"}
                      for n, u in PER_LAYER],
    }


def pass_history(workload, fp, pass_s, traced):
    """Median pass_s of this checkout's untraced runs of a workload with
    the same sources and inputs (``fp``); an untraced run adds its own
    pass to the history first."""
    path = os.path.join(BUILD, f"history_{workload}_{fp}.json")
    hist = []
    if os.path.exists(path):
        with open(path) as fh:
            hist = json.load(fh)
    if not traced:
        hist.append(pass_s)
        with open(path, "w") as fh:
            json.dump(hist, fh)
    return statistics.median(hist) if hist else None


def self_time_summary(raw):
    st = M.self_times(raw["spans"])
    out = {}
    for s in raw["spans"]:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]] / 1e6
    return out


def record_expected(path, raw, problems):
    other = [p for p in problems if "no expectation" not in p
             and "expected" not in p]
    if other:
        sys.exit(f"[perfbench] not recording expectations: {other}")
    exp = {}
    if os.path.exists(path):
        with open(path) as fh:
            exp = json.load(fh)
    # this run's kinds are re-recorded whole, so no stale key survives
    kinds = {c["kind"] for c in raw["checks"]}
    exp = {k: v for k, v in exp.items() if k.split("/")[0] not in kinds}
    for c in raw["checks"]:
        if c["kind"] == "stream":
            continue
        got = dict(c["got"])
        got.pop("read", None)  # a topic's read count depends on the seed
        exp[expected_key(c)] = got
    with open(path, "w") as fh:
        json.dump(dict(sorted(exp.items())), fh, indent=1)
        fh.write("\n")
    log(f"recorded {len(exp)} expectations in {path}")


def report(args, raw, sizes, e2e, named, layers, problems, t_start):
    p = lambda s: print(s, flush=True)  # noqa: E731
    p(f"# perfbench workload={args.workload} seed={args.seed} "
      f"trace={args.trace} host={raw['host']} cores={raw['cores']} "
      f"master={raw['master']} heap={raw['heap_max_bytes'] / MiB:.0f}MiB")
    p(f"# inputs: {json.dumps(sizes)}")
    for k, v in e2e.items():
        p(f"  {k:34s} {v!s:>14}  {dict(END_TO_END)[k]}")
    for k, v in named.items():
        p(f"  {k:34s} {v!s:>14}")
    if args.trace:
        for k, unit in PER_LAYER:
            p(f"  {k:34s} {layers[k]!s:>14}  {unit}")
    for pr in problems:
        p(f"! {pr}")
    p(f"# wall {time.time() - t_start:.1f}s")


if __name__ == "__main__":
    main()
