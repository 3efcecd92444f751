#!/usr/bin/env python3
"""graft benchmark: one closed-loop client runs a workload's queries
back to back in one JVM and reports end-to-end metrics (`--trace 0`) or
per-layer metrics from a traced run (`--trace 1`).

    python3 perfbench/run.py --workload menu_etl --seed 1 --seconds 14 --trace 0

Run it from the repository root. It compiles graft from `src/main/scala`
and the driver from `perfbench/src` with the Scala compiler shipped in
the Spark jars (`$SPARK_HOME/jars`, by default the jars build.sbt uses),
caching the classes under `.bench_build/`. Inputs are generated from the seed into a
per-run directory under `.bench_build/`, which also holds the JVM's
`java.io.tmpdir` and `spark.local.dir` and is deleted when the run ends.
The last stdout line is the result JSON; the line before it holds the
run's details (seed, output-check mismatches, load evidence).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
from metrics import MB, idle_frac, median, pass_percentile, self_time  # noqa: E402

# The workloads' queries, each tagged with the graft module of the main
# operator it calls. The lists are subsets sized so that one run (three
# set-ups, warm check pass, timed passes, output check) stays near a minute; see
# perfbench/README.md for what each workload stands for.
WORKLOADS = {
    "menu_etl": {
        "q01_extract_meta": "etl", "q02_clean_text": "etl", "q03_chunk_text": "etl",
        "q04_parse_menu": "etl", "q05_validate": "etl", "q06_price_display": "etl",
        "q41_detected_currency": "etl", "q42_variant_parse": "etl", "q08_batch_manifest": "etl",
    },
    "curation": {
        "q24_ngram_jaccard": "functions", "q191_decontaminate": "dedup",
        "q216_index_maintain": "similarity", "q172_pagerank": "operators",
        "q148_txlog_prune": "sources",
    },
}
MODULES = ["etl", "dedup", "similarity", "functions", "operators", "sources"]
SETUPS = 3          # set-ups per run; setup_s is their median
CHECKS = ["cold", "warm"]  # the driver's check passes, in order
DEADLINE_S = 160    # a run (after any build) is abandoned after this long
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
HZ = os.sysconf("SC_CLK_TCK")


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root, sub):
    out = []
    for d, _, fs in os.walk(os.path.join(root, sub)):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def digest(root, files, prefix=""):
    h = hashlib.sha256(prefix.encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_to(out, srcs, jars, cp):
    """Compiles `srcs` into `out` unless it exists; returns `out`."""
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn", *(["-cp", cp] if cp else []),
                        "-d", tmp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp)
        fail(f"compiling {os.path.basename(out)} failed:\n{r.stdout[-3000:]}")
    os.rename(tmp, out)
    return out


def build(root, jars):
    """Compiles graft, then the driver against it, once per source state;
    returns the classpath."""
    graft_src = sources(root, "src/main/scala")
    bench_src = sources(root, "perfbench/src")
    if not graft_src or not bench_src:
        fail("no graft sources under src/main/scala (run from the repository root)")
    base = os.path.join(root, ".bench_build")
    os.makedirs(base, exist_ok=True)
    graft_key = digest(root, graft_src)
    graft_dir = "graft-" + graft_key
    bench_dir = "bench-" + digest(root, bench_src, graft_key)
    for d in os.listdir(base):
        if d.split("-")[0] in ("graft", "bench") and d not in (graft_dir, bench_dir):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    graft = compile_to(os.path.join(base, graft_dir), graft_src, jars, None)
    bench = compile_to(os.path.join(base, bench_dir), bench_src, jars, graft)
    return [bench, graft]


def run_jvm(cp, jars, run_dir, queries, data_dirs, seconds, trace, deadline):
    tmp, local, check_dir = (os.path.join(run_dir, d) for d in ("tmp", "local", "check"))
    for d in (tmp, local, check_dir):
        os.makedirs(d)
    out = os.path.join(run_dir, "driver.json")
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", *sum((["--add-opens", f"java.base/{p}=ALL-UNNAMED"] for p in JVM_OPENS), []),
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", ":".join(cp + [os.path.join(jars, "*")]), "graftbench.Driver",
           "--queries", ",".join(queries), "--data", ",".join(data_dirs),
           "--cores", str(cores), "--seconds", str(seconds), "--trace", str(trace),
           "--check-dir", check_dir, "--out", out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(run_dir, "driver.log")
    launch = time.time() * 1e3
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"driver exited with {code}")
    with open(out) as fh:
        res = json.load(fh)
    return res, launch, cores, check_dir


def end_to_end(res, execs, gen_s, launch, fails, attempted):
    passes = res["passes"]
    timed = [p for p in passes if p["kind"] == "timed"]
    lat = {}
    for e in execs:
        if passes[e["pass"]]["kind"] == "timed":
            lat.setdefault(e["pass"], []).append((e["end"] - e["start"]) / 1e3)
    setups = [(p["end"] - s) / 1e3 for p, s in zip(passes, res["session_starts"])]
    return {
        "pass_s": (median([(p["end"] - p["start"]) / 1e3 for p in timed]), "s"),
        "query_p50_s": (pass_percentile(lat.values(), 0.5), "s"),
        "query_p90_s": (pass_percentile(lat.values(), 0.9), "s"),
        # JIT compiler threads keep compiling for the whole run, their
        # time falling pass by pass; left in, that warm-up drift would
        # swamp the workload's own CPU
        "cpu_s": (median([p["cpu_jiffies"] / HZ - p["jit_ms"] / 1e3 for p in timed]), "s"),
        "setup_s": (gen_s + (res["main_start"] - launch) / 1e3 + median(setups), "s"),
        "ok_frac": (1.0 - fails / attempted, "ratio"),
    }, {"timed_passes": len(timed), "timed_execs": sum(len(xs) for xs in lat.values()),
        "jit_s": round(median([p["jit_ms"] / 1e3 for p in timed]), 3),
        "setup_reps_s": [round(s, 3) for s in setups],
        "passes_s": [(p["kind"], round((p["end"] - p["start"]) / 1e3, 3), round(p["cpu_jiffies"] / HZ, 2),
                      round(p["jit_ms"] / 1e3, 2)) for p in passes],
        "query_median_s": {q: round(median([(e["end"] - e["start"]) / 1e3 for e in execs
                                            if e["query"] == q and passes[e["pass"]]["kind"] == "timed"]), 3)
                           for q in dict.fromkeys(e["query"] for e in execs)}}


def per_layer(res, execs, modules, cores):
    passes = res["passes"]
    jobs = {}
    for j in res["jobs"]:
        jobs.setdefault(j["tag"], []).append((j["start"], j["end"] if j["end"] >= 0 else j["start"]))
    tasks = res["tasks"]
    rows = []
    for i, p in enumerate(passes):
        if p["kind"] != "traced":
            continue
        m = dict.fromkeys(["build.s", "build.self_s", "build.jobs", "sink.s", "sink.self_s", "sink.jobs",
                           "Exec.retained_mb"], 0.0)
        for mod in MODULES:
            m.update({f"{mod}.s": 0.0, f"{mod}.cpu_s": 0.0, f"{mod}.jobs": 0.0})
        t = dict.fromkeys(["stages", "tasks", "failures", "cpu_ns", "run_ms", "gc_ms", "busy_ms",
                           "shuffle_write", "shuffle_read", "spill", "input", "output"], 0)
        for e in (e for e in execs if e["pass"] == i):
            mod = modules[e["query"]]
            for phase, span in (("build", (e["start"], e["built"])), ("sink", (e["built"], e["end"]))):
                tag = f"{e['id']}:{phase}"
                js = jobs.get(tag, [])
                m[f"{phase}.s"] += (span[1] - span[0]) / 1e3
                m[f"{phase}.self_s"] += self_time(span, js) / 1e3
                m[f"{phase}.jobs"] += len(js)
                m[f"{mod}.jobs"] += len(js)
                for k, v in tasks.get(tag, {}).items():
                    t[k] += v
            m[f"{mod}.s"] += (e["end"] - e["start"]) / 1e3
            m[f"{mod}.cpu_s"] += e["cpu_jiffies"] / HZ
            m["Exec.retained_mb"] += max(0, e["retained_after"] - e["retained_before"]) / MB
        wall = p["end"] - p["start"]
        m.update({
            "spark.stages": t["stages"], "spark.tasks": t["tasks"], "spark.task_failures": t["failures"],
            "spark.cpu_s": t["cpu_ns"] / 1e9, "spark.run_s": t["run_ms"] / 1e3, "spark.gc_s": t["gc_ms"] / 1e3,
            "spark.idle_frac": idle_frac(t["busy_ms"], cores, wall),
            "spark.shuffle_write_mb": t["shuffle_write"] / MB, "spark.shuffle_read_mb": t["shuffle_read"] / MB,
            "spark.spill_mb": t["spill"] / MB, "spark.input_mb": t["input"] / MB,
            "spark.output_mb": t["output"] / MB,
            "tmp.disk_mb": max(0, p["tmp_bytes"] - passes[i - 1]["tmp_bytes"]) / MB,
            "pass_s": wall / 1e3,
            "spans_s": sum(e["end"] - e["start"] for e in execs if e["pass"] == i) / 1e3,
        })
        rows.append(m)
    out = {k: median([r[k] for r in rows]) for k in rows[0] if k not in ("pass_s", "spans_s")}
    untraced = [(p["end"] - p["start"]) / 1e3 for p in passes if p["kind"] == "timed"]
    traced = median([r["pass_s"] for r in rows])
    out["trace.overhead"] = traced / median(untraced)
    out["trace.span_coverage"] = sum(r["spans_s"] for r in rows) / sum(r["pass_s"] for r in rows)
    out["jvm.peak_rss_mb"] = int(res["peak_rss_kb"]) / 1024.0
    units = {"_s": "s", "_mb": "MB", ".s": "s", "jobs": "count", "stages": "count", "tasks": "count",
             "failures": "count", "frac": "ratio", "overhead": "ratio", "coverage": "ratio"}
    return {k: (v, next(u for suf, u in units.items() if k.endswith(suf))) for k, v in out.items()}


def main():
    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars}")
    cp = build(root, jars)
    deadline = time.time() + DEADLINE_S
    modules = WORKLOADS[a.workload]
    queries = list(modules)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(root, ".bench_build"))
    try:
        t0 = time.time()
        data_dirs = [os.path.join(run_dir, f"data{i}") for i in range(SETUPS)]
        os.makedirs(data_dirs[0])
        gen.write(a.seed, data_dirs[0])
        for d in data_dirs[1:]:
            shutil.copytree(data_dirs[0], d)
        gen_s = time.time() - t0
        res, launch, cores, check_dir = run_jvm(cp, jars, run_dir, queries, data_dirs,
                                                a.seconds, a.trace, deadline)
        execs = res["execs"]
        errors = {}
        for e in execs:
            if e["error"]:
                errors.setdefault(e["query"], e["error"])
        t_check = time.time()
        bad = check.mismatches(data_dirs[0], check_dir, CHECKS, queries, os.path.join(run_dir, "tmp"))
        check_s = time.time() - t_check
        # a check-pass execution that threw is counted once, not again as a mismatch
        check_passes = [i for i, p in enumerate(res["passes"]) if p["kind"] == "check"]
        fails = sum(1 for e in execs if e["error"])
        for run, i in zip(CHECKS, check_passes):
            threw = {e["query"] for e in execs if e["error"] and e["pass"] == i}
            fails += len(set(bad[run]) - threw)
        e2e, counts = end_to_end(res, execs, gen_s, launch, fails, len(execs))
        metrics = per_layer(res, execs, modules, cores) if a.trace else e2e
        w = res["timed_window"]
        details = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores,
            "queries": queries, "mismatches": {r: m for r, m in bad.items() if m}, "errors": errors,
            **counts,
            "end_to_end": {k: round(v, 4) for k, (v, _) in e2e.items()},
            "loadavg": [w["load_start"], w["load_end"]],
            "ext_cores": round((w["system_busy_jiffies"] - w["own_jiffies"]) / HZ / w["wall_s"], 3),
            "steal_cores": round(w["steal_jiffies"] / HZ / w["wall_s"], 3),
            "spin_ms": [round(x, 1) for x in w["spin_ms"]],
            "check_s": round(check_s, 2), "run_s": round(time.time() - started, 1),
        }
        results = os.path.join(root, ".bench_build", "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
            # every execution's latency too, for looking into a noisy run
            json.dump({"details": details, "metrics": metrics,
                       "execs_s": [(e["pass"], e["query"], round((e["end"] - e["start"]) / 1e3, 4))
                                   for e in execs]}, fh)
        print(json.dumps(details))
        print(json.dumps({
            "correct": fails == 0, "attempted": len(execs), "failed": fails,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
