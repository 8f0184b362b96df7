#!/usr/bin/env python3
"""End-to-end benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload log_stream --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark's runner from source (cached by a hash
of the sources), generates the workload's inputs from the seed (cached
per seed), runs the runner in its own JVM, checks every timed
operation's output against a computation made apart from the program,
and prints one JSON object as the last line of standard output:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.

`--smoke` runs the tiny input sizes the benchmark's own tests use.
`--regen-expected` recomputes cached DuckDB oracle results.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("log_stream", "log_dashboard", "corpus_batch", "corpus_delta")
# A run holds 10 to 24 operations, mostly 15 or 16 (README, "Limits"): no
# percentile leaves ten beyond it, and p90 would leave one or two. p75
# leaves three or four.
TAIL_PERCENTILE = 75
CORES = max(1, min(4, os.cpu_count() or 1))
JVM_HEAP = "3g"
# -XX:-UsePerfData: the JVM would otherwise write its counters to /tmp
JVM_FLAGS = ["-XX:+UseParallelGC", "-XX:-UsePerfData"]
# A run must finish within 180 s on the workloads BENCHMARK.json
# lists; a corpus_delta run rebuilds its at-rest artifacts and needs more.
JVM_TIMEOUT_S = {"corpus_batch": 600, "corpus_delta": 600}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine (../src/main) and the runner with the
    benchmark's own sbt build; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the engine sources (src/main/scala/graft) are missing")
    stamp = os.path.join(WORK, "build.stamp")
    cpfile = os.path.join(WORK, "classpath.txt")
    digest = sources_hash()
    if os.path.exists(stamp) and os.path.exists(cpfile) and open(stamp).read() == digest:
        return open(cpfile).read().strip()
    log("building (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(cpfile, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def run_jvm(cp, workload, inputs, out, seconds, trace):
    """Run the runner JVM; its stdout and stderr go to a log file beside the
    run record so this process's stdout stays the one JSON line."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{JVM_HEAP}", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={out}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--inputs", inputs,
            "--out", out, "--work", out, "--seconds", str(seconds), "--trace", str(trace), "--cores", str(CORES)]
    logpath = os.path.join(out, "jvm.log")
    with open(logpath, "w") as lf:
        p = subprocess.Popen(cmd, cwd=out, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S.get(workload, 170))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    if rc != 0:
        with open(logpath) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: runner exited with {rc}")
    with open(os.path.join(out, "run.json")) as f:
        return json.load(f)


def expected_results(inputs, oracle_sql, regen):
    """DuckDB's result per query, cached beside the inputs unless the
    oracle reads an artifact the run itself wrote."""
    cache_dir = os.path.join(inputs, "expected")
    os.makedirs(cache_dir, exist_ok=True)
    out = {}
    for q, sql in oracle_sql.items():
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, f"{q}-{key}.json")
        cacheable = "read_parquet(" not in sql and "read_csv" not in sql
        if cacheable and not regen and os.path.exists(path):
            with open(path) as f:
                cols, rows = json.load(f)
            out[q] = (cols, [tuple(r) for r in rows])
            continue
        try:
            cols, rows = checks.oracle_rows(inputs, sql)
        except Exception as e:  # an oracle that cannot run fails its query's ops
            log(f"oracle {q} failed: {e}")
            continue
        out[q] = (cols, rows)
        if cacheable:
            with open(path, "w") as f:
                json.dump([cols, rows], f)
    return out


def run_checks(workload, inputs, tallies, run, out, regen):
    """Return {op index: reason} for failed ops, and what the checks
    observed that the per-layer metrics also use."""
    ops = run["ops"]
    if workload == "log_stream":
        stored, flagged, preds = checks.load_log_stream(run["store"])
        rows = {b: sum(n for n, _ in pairs.values()) for b, pairs in stored.items()}
        return (checks.check_log_stream(tallies, ops, stored, flagged, preds),
                {"stored_rows": rows})
    if workload in ("log_dashboard", "corpus_batch"):
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        expected = expected_results(inputs, oracle_sql, regen)
        got = {q: checks.result_rows(os.path.join(out, "results", q))
               for q in run["first_hash"]}
        return checks.check_queries(ops, run["first_hash"], expected, got), {}
    return checks.check_corpus_delta(tallies, ops, *checks.load_corpus_delta(inputs, run)), {}


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def end_to_end(run, fails):
    """The end-to-end metrics over the operations that passed their
    checks: a wrong result adds neither its items nor its time."""
    passed = [op for op in run["ops"] if op["i"] not in fails]
    lat = [op["ms"] for op in passed]
    items = sum(op["items"] for op in passed)
    return {
        "throughput_per_s": {"value": items / run["timed_s"], "unit": "1/s"},
        "latency_p50_ms": {"value": statistics.median(lat), "unit": "ms"},
        "latency_tail_ms": {"value": percentile(lat, TAIL_PERCENTILE), "unit": "ms"},
        "setup_s": {"value": run["setup_ms"] / 1000.0, "unit": "s"},
    }


def result(run, fails, metrics):
    """The result line. Every failed check is charged to the operation
    whose output it read and counted in `failed`; `correct` holds only
    when every timed operation passed its checks."""
    return {"correct": not fails, "attempted": len(run["ops"]), "failed": len(fails),
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--regen-expected", action="store_true")
    a = ap.parse_args()

    t0 = time.time()
    cp = build()
    t1 = time.time()
    inputs, tallies = gen.generate(a.workload, a.seed, a.smoke, os.path.join(WORK, "inputs"))
    t2 = time.time()
    out = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        run = run_jvm(cp, a.workload, inputs, out, a.seconds, a.trace)
        t3 = time.time()
        fails, observed = run_checks(a.workload, inputs, tallies, run, out, a.regen_expected)
        log(f"build {t1 - t0:.1f}s, inputs {t2 - t1:.1f}s, runner {t3 - t2:.1f}s, "
            f"checks {time.time() - t3:.1f}s")
        for op in run["ops"]:
            if not op["ok"]:
                fails.setdefault(op["i"], op["err"])
        for i, reason in sorted(fails.items())[:20]:
            log(f"op {i} failed its check: {reason}")
        if len(fails) == len(run["ops"]):
            sys.exit("perfbench: no operation passed its checks")
        if a.trace:
            with open(os.path.join(out, "trace.json")) as f:
                trace = json.load(f)
            metrics = layers.per_layer(a.workload, run, trace, out, observed, CORES)
        else:
            metrics = end_to_end(run, fails)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    res = result(run, fails, metrics)
    with open(os.path.join(WORK, "history.jsonl"), "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                            "seconds": a.seconds, "ops_ms": [op["ms"] for op in run["ops"]],
                            "setup_ms": run["setup_ms"], "result": res}) + "\n")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
