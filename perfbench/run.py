#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. The first run builds graft and
the harness with sbt (offline) and caches the classpath in
perfbench/.build/; later runs rebuild only when a source file changed.
Inputs are generated from the seed into perfbench/.work/, the timed loop
runs in one JVM (graft.perfbench.Main), outputs are checked against
DuckDB afterwards, and the last line of stdout is the result JSON. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RESULTS = os.path.join(HERE, "results")

# Sizes are chosen so that a whole run, warm-up included, takes about 40 s
# on a 4-core machine; see README.md.
WORKLOADS = {
    "pipeline_daily": {"batches": 6, "backfill": 3, "rows": 10_000, "keys": 6_000},
    "curation_funnel": {"base_docs": 1_000, "replicas": 5},
    # two fixed-iteration graph loops (one per trade-graph edge set) and the
    # micro-batch consolidation stream; see README.md for the queries left out
    "driver_loops": {"queries": ["q117_pagerank", "q133_label_prop", "q71_stream_consolidate"]},
}
SETUP_REPS = 7
# a run must end within 180 s; this leaves time for the checks
JVM_TIMEOUT_S = 150

# the --add-opens of build.sbt's javaOptions: Spark on JDK 17 needs them
# when the JVM is started without spark-submit
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _sources():
    pats = ["build.sbt", "project/build.properties", "project/*.sbt",
            "src/main/**/*.scala", "src/main/**/*.java",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*.scala"]
    files = set()
    for p in pats:
        files.update(glob.glob(os.path.join(ROOT, p), recursive=True))
    return sorted(files)


def ensure_build():
    """Classpath of graft + harness, building with sbt when sources changed."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=logf, text=True, timeout=850)
        logf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"sbt build failed (exit {p.returncode}); see perfbench/.build/build.log", 1)
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ------------------------------------------------------------------ inputs

def make_inputs(workload, seed, work):
    """Generates the workload's inputs; returns the plan fields for them."""
    import gen
    p = WORKLOADS[workload]
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    if workload == "pipeline_daily":
        dates = gen.pipeline_batches(seed, os.path.join(inputs, "pool"), p["batches"],
                                     p["rows"], p["keys"])
        return {"pool": os.path.join(inputs, "pool"), "batches": dates,
                "backfill": p["backfill"], "metadata": gen.pipeline_meta()}
    if workload == "curation_funnel":
        path = os.path.join(inputs, "documents.parquet")
        gen.corpus(seed, path, p["base_docs"], p["replicas"])
        return {"corpus": path}
    tables = os.path.join(inputs, "tables")
    gen.loop_tables(seed, tables)
    return {"tables": tables, "queries": p["queries"]}


# ------------------------------------------------------------------ jvm

def run_jvm(classpath, plan, work, cpus):
    plan_file, result_file = os.path.join(work, "plan.json"), os.path.join(work, "result.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write its perf file outside the checkout
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main", plan_file, result_file]
    env = dict(os.environ, PERFBENCH_CPUS=str(cpus), PERFBENCH_WORK=work)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM did not finish within {JVM_TIMEOUT_S} s; see {work}/jvm.log", 1)
    if code != 0 or not os.path.exists(result_file):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"JVM exited with {code}:\n{tail}", 1)
    with open(result_file) as f:
        return json.load(f)


# ------------------------------------------------------------------ metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def rounds(ops):
    """Wall of every complete round of the loop queries."""
    by = {}
    for o in ops:
        by.setdefault(o["round"], []).append(o["wall_s"])
    n = len(WORKLOADS["driver_loops"]["queries"])
    return [sum(v) for v in by.values() if len(v) == n]


def check_ops(workload, res, plan, corrupt):
    """Marks each op's `problems` (empty when its output is right);
    returns facts the metrics need."""
    import checks
    con = checks.connect(plan["cpus"])
    ops = res["ops"]
    facts = {}
    if workload == "pipeline_daily":
        exp = checks.PipelineExpect(con, plan["pool"], plan["batches"])
        if corrupt:
            d = plan["batches"][0]
            exp.counts[d] = (exp.counts[d][0], exp.counts[d][1] + 1)
        for o in ops:
            o["problems"] = exp.check(o) if not o["error"] else [o["error"]]
        facts["expect"] = exp
    elif workload == "curation_funnel":
        exp = checks.CurationExpect(con, plan["corpus"])
        if corrupt:
            s = sorted(exp.raw)[0]
            exp.raw[s] += 1
        ref = None
        for o in ops:
            if o["error"]:
                o["problems"] = [o["error"]]
                continue
            o["problems"] = exp.check(o, o["stages"], ref)
            if ref is None and not o["problems"]:
                ref = checks.report_digest(o["report"])
        facts["docs"] = exp.docs
    else:
        oracles = res["extra"]["oracles"]
        verdict = {}
        for o in ops:
            if o.get("output"):
                sql = oracles[o["name"]]
                if corrupt and o["name"] == WORKLOADS["driver_loops"]["queries"][0]:
                    sql = f"SELECT * FROM ({sql}) LIMIT 1"
                diff = checks.oracle_diff(con, plan["tables"], sql, o["output"])
                verdict[o["name"]] = (o["digest"], diff)
        for o in ops:
            if o["error"]:
                o["problems"] = [o["error"]]
                continue
            digest, diff = verdict.get(o["name"], (None, "no checked round"))
            o["problems"] = [d for d in [diff] if d] + \
                ([] if o["digest"] == digest else ["result differs from the checked round"])
        facts["rows"] = sum(con.execute(
            f"SELECT count(*) FROM read_parquet('{plan['tables']}/{t}.parquet')").fetchone()[0]
            for t in ("orders", "lineitem", "events"))
    return facts


def end_to_end(workload, res, facts):
    ops = res["ops"]
    if workload == "pipeline_daily":
        exp = facts["expect"]
        arrivals = [o["wall_s"] for o in ops if o["kind"] == "arrival"]
        backfill = [sum(exp.rows[d] for d in o["batches"]) / o["wall_s"]
                    for o in ops if o["kind"] == "backfill"]
        op_p50, rate = median(arrivals), median(backfill)
    elif workload == "curation_funnel":
        walls = [o["wall_s"] for o in ops]
        op_p50, rate = median(walls), facts["docs"] * len(walls) / sum(walls)
    else:
        rs = rounds(ops)
        op_p50, rate = median(rs), facts["rows"] * len(rs) / sum(rs)
    return {
        "setup_s": (median(res["setup_s"]), "s"),
        "op_p50_s": (op_p50, "s"),
        "rows_per_s": (rate, "rows/s"),
        "core_s_per_op": (sum(o["cpu_s"] - o["jvm"]["jit_s"] for o in ops) / len(ops), "cpu_s"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
    }


def _spans(work):
    path = os.path.join(work, "spans.jsonl")
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def self_times(spans):
    """Self time per span name: duration minus what its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], []))
        covered, cur = 0, None
        for a, b in iv:
            a, b = max(a, s["start_ms"]), min(b, s["end_ms"])
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += max(0, cur[1] - cur[0])
        out[s["name"]] = out.get(s["name"], 0) + (s["end_ms"] - s["start_ms"] - covered) / 1000.0
    return out


def per_layer(workload, res, facts, e2e, work):
    ops = res["ops"]
    L = [o["layers"] for o in ops]
    m = {
        "spark.jobs_per_op": (mean([l["jobs"] for l in L]), "count"),
        "spark.driver_gap_s": (mean([o["wall_s"] - o["layers"]["job_union_s"] for o in ops]), "s"),
        "spark.plan_ms": (mean([l["plan_ms"] for l in L]), "ms"),
        "spark.driver_cpu_s": (mean([o["cpu_s"] - o["layers"]["exec_cpu_s"] for o in ops]), "cpu_s"),
        "spark.exec_cpu_s": (mean([l["exec_cpu_s"] for l in L]), "cpu_s"),
        "spark.exec_run_s": (mean([l["exec_run_s"] for l in L]), "s"),
        "spark.gc_s": (mean([l["gc_s"] for l in L]), "s"),
        "jvm.jit_s": (mean([o["jvm"]["jit_s"] for o in ops]), "s"),
        "jvm.gc_s": (mean([o["jvm"]["gc_s"] for o in ops]), "s"),
        "spark.shuffle_write_mb": (mean([l["shuffle_write_mb"] for l in L]), "MB"),
        "spark.shuffle_read_mb": (mean([l["shuffle_read_mb"] for l in L]), "MB"),
        "spark.spill_mb": (mean([l["spill_mb"] for l in L]), "MB"),
    }

    def mod(o, name, key):
        return o["layers"]["modules"].get(name, {}).get(key, 0)

    io = dict.fromkeys(["io.sink_s", "io.source_scans_per_batch", "io.bytes_written_per_input_byte",
                        "io.files_per_batch", "io.driver_s", "operators.consolidate_s",
                        "operators.consolidate_rows_in_per_new_row", "operators.ko_frac"], 0.0)
    consolidation = ("pipeline.IncrementalPipeline", "operators.Consolidator")
    if workload == "pipeline_daily":
        import checks
        exp = facts["expect"]
        back = [o for o in ops if o["kind"] == "backfill"]
        arr = [o for o in ops if o["kind"] == "arrival"]
        n_b = sum(len(o["batches"]) for o in back)
        src_rows = sum(exp.rows[d] for o in back for d in o["batches"])
        src_bytes = sum(exp.input_bytes[d] for o in back for d in o["batches"])
        io["io.sink_s"] = sum(mod(o, "io.SinkWriter", "busy_s") for o in back) / n_b
        io["io.source_scans_per_batch"] = sum(mod(o, "io.SinkWriter", "records_in") for o in back) / src_rows
        io["io.bytes_written_per_input_byte"] = sum(
            sum(v["bytes_out"] for v in o["layers"]["modules"].values()) for o in back) / src_bytes
        all_b = [(o["root"], d) for o in ops for d in o["batches"]]
        io["io.files_per_batch"] = mean([checks.files_written(r, d) for r, d in all_b])
        io["io.driver_s"] = mean([o["wall_s"] - o["layers"]["job_union_s"] for o in arr])
        io["operators.consolidate_s"] = mean([sum(mod(o, c, "busy_s") for c in consolidation) for o in arr])
        io["operators.consolidate_rows_in_per_new_row"] = mean([
            sum(mod(o, c, "records_in") for c in consolidation) / exp.ok_rows(o["batches"][0])
            for o in arr])
        ko = sum(exp.counts[d][1] for _, d in all_b)
        io["operators.ko_frac"] = ko / sum(exp.rows[d] for _, d in all_b)
    for k, v in io.items():
        m[k] = (v, {"io.sink_s": "s", "io.driver_s": "s", "operators.consolidate_s": "s"}.get(k, "ratio"))

    spans = _spans(work)
    by_id = {s["id"]: s for s in spans}

    def child_walls(name):
        return [(s["end_ms"] - s["start_ms"]) / 1000.0 for s in spans
                if s["name"] == name and by_id.get(s["parent"], {}).get("name") == "op funnel"]

    m["queries.curation_artifact_s"] = (median(child_walls("CurationFlow.run")), "s")
    m["queries.curation_exec_s"] = (median(child_walls("force")), "s")
    for q in WORKLOADS["driver_loops"]["queries"]:
        m[f"queries.{q}_p50_s"] = (median([o["wall_s"] for o in ops if o["name"] == q]), "s")
    micro = [ms for l in L for ms in l["microbatch_ms"]]
    n_rounds = len({o.get("round") for o in ops}) if workload == "driver_loops" else len(ops)
    m["streaming.microbatches"] = (len(micro) / n_rounds, "count")
    m["streaming.batch_p50_ms"] = (median(micro), "ms")
    m["meta.parse_ms"] = (median(res["parse_ms"]), "ms")
    m["checks.failed_frac"] = (sum(1 for o in ops if o["problems"]) / len(ops), "ratio")
    m["trace.op_p50_s"] = (e2e["op_p50_s"][0], "s")
    return m


def tail_percentile(samples):
    """Highest of p50/p90/p95/p99/p99.9 with at least ten samples above it."""
    n = len(samples)
    best = None
    for p in (50, 90, 95, 99, 99.9):
        if n * (1 - p / 100) >= 10:
            best = p
    if best is None:
        return None
    xs = sorted(samples)
    return best, xs[min(n - 1, int(n * best / 100))], n


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="negative probe: perturb one expected value; the run must fail")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("not inside a graft checkout: build.sbt and src/main/scala/graft are missing")

    t_start = time.time()
    classpath = ensure_build()
    sys.path.insert(0, HERE)

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    t0 = time.time()
    plan = make_inputs(args.workload, args.seed, work)
    gen_s = time.time() - t0
    plan.update({"workload": args.workload, "work": work, "trace": bool(args.trace),
                 "seconds": args.seconds, "setup_reps": SETUP_REPS, "cpus": cpus,
                 "session_conf": os.path.join(HERE, "session.properties")})

    res = run_jvm(classpath, plan, work, cpus)
    if not res["ops"]:
        fail("no operation completed", 1)
    facts = check_ops(args.workload, res, plan, args.corrupt_expected)
    ops = res["ops"]
    failed = sum(1 for o in ops if o["problems"])
    for o in ops:
        for p in o["problems"]:
            print(f"FAILED {o['kind']} {o['name']}: {p}")

    e2e = end_to_end(args.workload, res, facts)
    os.makedirs(RESULTS, exist_ok=True)
    print(f"workload {args.workload} seed {args.seed} cpus {cpus}: {len(ops)} ops, "
          f"{failed} failed; inputs {gen_s:.1f} s, " +
          ", ".join(f"{k} {v:.1f} s" for k, v in res["phase_s"].items()))
    print("session confs: " + ", ".join(f"{k}={v}" for k, v in sorted(res["confs"].items())))
    if args.trace:
        metrics = per_layer(args.workload, res, facts, e2e, work)
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(RESULTS, f"spans_{args.workload}.jsonl"))
        for name, secs in sorted(self_times(_spans(work)).items(), key=lambda x: -x[1])[:12]:
            print(f"  self {secs:9.3f} s  {name}")
        base = os.path.join(RESULTS, f"untraced_{args.workload}.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["op_p50_s"]
            print(f"tracing overhead on op_p50_s: {e2e['op_p50_s'][0] - untraced:+.4f} s "
                  f"(traced {e2e['op_p50_s'][0]:.4f} s, untraced {untraced:.4f} s)")
    else:
        metrics = e2e
        with open(os.path.join(RESULTS, f"untraced_{args.workload}.json"), "w") as f:
            json.dump({k: v for k, (v, _) in e2e.items()}, f)
        samples_file = os.path.join(RESULTS, f"op_samples_{args.workload}.jsonl")
        kind = {"pipeline_daily": "arrival", "curation_funnel": "funnel"}.get(args.workload)
        lat = rounds(ops) if kind is None else [o["wall_s"] for o in ops if o["kind"] == kind]
        with open(samples_file, "a") as f:
            f.write(json.dumps(lat) + "\n")
        with open(samples_file) as f:
            pooled = [x for l in f for x in json.loads(l)]
        tail = tail_percentile(pooled)
        if tail:
            print(f"op latency p{tail[0]} = {tail[1]:.4f} s over {tail[2]} pooled samples (not gated)")
    for k, (v, unit) in metrics.items():
        print(f"  {k:45s} {v:14.6f} {unit}")
    print(f"failed_frac {failed / len(ops):.4f} ({failed}/{len(ops)}); "
          f"run wall {time.time() - t_start:.1f} s")

    for d in ("inputs", "pipe", "corpus", "tables", "checks", "scratch", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
