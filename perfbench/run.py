#!/usr/bin/env python3
"""Benchmark driver: builds the engine and the harness, generates the
seeded inputs, runs one workload for a fixed time in one JVM, checks the
outputs, and prints one JSON line of metrics as its last stdout line.

    python3 perfbench/run.py --workload metric-reads --seed 1 --seconds 10 --trace 0

Run it from the repository root. `--trace 1` reports the per-layer
metrics instead of the end-to-end ones and writes the span trace to
`perfbench/.work/run/<workload>-<seed>-1/trace.json`. `--size tiny` runs on
small inputs (used by the smoke test).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ["metric-reads", "dedup-backfill", "stream-admit"]
JVM_TIMEOUT_S = 140
KEEP_DATASETS = 4
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def _sources_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the engine sources with the harness when any of them
    changed since the last build; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    fp = _sources_fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file) \
            and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log("perfbench: building (sources changed)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(fp)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return cp


# ---------------------------------------------------------------- inputs

def inputs(workload, seed, size):
    """Generate (or reuse) the seeded inputs; returns (dir, seconds)."""
    sys.path.insert(0, BENCH)
    import gen
    d = os.path.join(WORK, "data", f"{workload}-{size}-{seed}")
    done = os.path.join(d, ".done")
    # inputs made by another version of the generator are made again
    version = hashlib.sha256(open(gen.__file__, "rb").read()).hexdigest()
    t0 = time.time()
    if not os.path.exists(done) or open(done).read() != version:
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, d, seed, size)
        with open(done, "w") as f:
            f.write(version)
    os.utime(done)
    old = sorted(glob.glob(os.path.join(WORK, "data", "*", ".done")),
                 key=os.path.getmtime)[:-KEEP_DATASETS]
    for o in old:
        shutil.rmtree(os.path.dirname(o), ignore_errors=True)
    return d, time.time() - t0


# ---------------------------------------------------------------- run

def run_jvm(cp, args, out):
    cores = min(4, os.cpu_count() or 1)
    # a fixed heap size, so resident memory does not follow heap resizing
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", args.data, "--out", out, "--cores", str(cores)]
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    jlog = os.path.join(out, "jvm.log")
    with open(jlog, "w") as lf:
        launch = time.time_ns()
        p = subprocess.Popen(cmd + ["--launch-ns", str(launch)], cwd=ROOT,
                             stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        log(open(jlog, errors="replace").read()[-4000:])
        fail(f"benchmark JVM exited with {rc}", 1)
    return json.load(open(os.path.join(out, "result.json")))


def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(-(-p * len(s) // 1)) - 1))]


def tail(xs):
    """The highest of p99/p95/p90/p75/p50 with at least 10 samples
    beyond it, or the maximum when there are fewer than 20 samples."""
    n = len(xs)
    for p in (0.99, 0.95, 0.90, 0.75, 0.50):
        if n * (1 - p) >= 10:
            return pct(xs, p), f"p{int(p * 100)}"
    return max(xs), "max"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.isfile(os.path.join(ROOT, "manifests",
                                               "semantic_manifest.yml")):
        fail("run from the repository root: engine sources not found")
    cp = build()
    args.data, gen_s = inputs(args.workload, args.seed, args.size)
    out = os.path.join(WORK, "run", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    res = run_jvm(cp, args, out)

    import check
    failures = list(res["checks"].get("failures", []))
    ops = res["ops"]
    failed_ops = {o["i"] for o in ops if not o["ok"]}
    for o in ops:
        if o["error"]:
            failures.append(f"op {o['i']}: {o['error']}")
    if args.workload == "metric-reads":
        bad = check.metric_requests(args.data, out,
                                    res["checks"]["metric_requests"])
        failures += [f"request {k}: {why}" for k, why in bad.items()]
        req_of = res["summary"]["op_requests"]
        failed_ops |= {o["i"] for o in ops if req_of.get(str(o["i"])) in bad}
    else:
        n_bad = res["checks"].get("failed_ops", 0)
        failed_ops |= {o["i"] for o in ops[:n_bad]}
    attempted = max(1, len(ops))
    failed = len(failed_ops)
    correct = not failures

    plain = [o["wall_s"] for o in ops if o["ok"]]
    if not plain:
        fail("no op completed", 1)
    t_val, t_name = tail(plain)
    e2e = {
        "op_p50_s": (statistics.median(plain), "s"),
        "op_tail_s": (t_val, "s"),
        "setup_s": (res["setup_s"], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    # The per-workload names of the end-to-end metrics, for people.
    s = res["summary"]
    # Ops that failed in set-up count in the error rate; the JSON line's
    # attempted/failed cover the timed ops.
    setup_errors = res.get("setup_errors", [])
    named = {"error_rate": ((failed + len(setup_errors))
                            / (attempted + len(setup_errors)), "ratio")}
    if args.workload == "metric-reads":
        named["query_p50_s"] = e2e["op_p50_s"]
        named["query_tail_s"] = (t_val, f"s ({t_name}, n={len(plain)})")
    elif args.workload == "dedup-backfill":
        named["docs_per_s"] = (s["docs_per_pass"] / statistics.median(plain),
                               "docs/s")
        named["lsh_planted_recall"] = (s["lsh_planted_recall"], "ratio")
    else:
        w, r = s["write_s"], s["read_s"]
        wt, wn = tail(w)
        rt, rn = tail(r)
        named.update({
            "write_p50_s": (statistics.median(w), "s"),
            "write_tail_s": (wt, f"s ({wn}, n={len(w)})"),
            "query_p50_s": (statistics.median(r), "s"),
            "query_tail_s": (rt, f"s ({rn}, n={len(r)})"),
            "docs_per_s": (s["admitted_docs"] / sum(w) if sum(w) else 0.0,
                           "docs/s"),
            "space_amp": (s["space_amp"], "ratio")})
    log(f"perfbench: {args.workload} seed={args.seed} ops={len(ops)} "
        f"inputs={gen_s:.1f}s")
    for k, (v, u) in list(e2e.items()) + list(named.items()):
        log(f"  {k:<22} {v:.6g} {u}")
    for f in failures[:20]:
        log(f"  FAIL {f}")
    for f in setup_errors:
        log(f"  FAIL in set-up (known engine defect, see README) {f}")

    if args.trace:
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        metrics = {m["name"]: {"value": float(res["layers"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
        log(f"  trace written to {os.path.join(out, 'trace.json')}")
        # Tracing overhead: this run's op median against the untraced run
        # of the same workload and seed, when one was made.
        untraced = os.path.join(WORK, "run", f"{args.workload}-{args.seed}-0",
                                "result.json")
        if os.path.exists(untraced):
            base = [o["wall_s"] for o in json.load(open(untraced))["ops"]
                    if o["ok"]]
            over = statistics.median(plain) / statistics.median(base) - 1
            log(f"  tracing overhead {over * 100:+.1f}% on op_p50_s")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
