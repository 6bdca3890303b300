#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine
and the harness from source with sbt (cached under $CARGO_TARGET_DIR, by
default .bench_build, keyed by a hash of the sources). Each run then
generates the workload's inputs from the seed, drives the workload in a
single JVM (local[nproc], the GraftSession.tune session config, WARN
logs) with its own empty java.io.tmpdir, checks the outputs outside the
timed region, deletes its scratch directory and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see BENCHMARK.json). Everything else goes to stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
RUN_LIMIT_S = 170  # one run, build excluded

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]

# the traced run's per-layer self times must cover the timed wall time
# to within this share
RECONCILE_TOLERANCE = 0.10

# The JVM flags spark-submit would add on JDK 17 (the engine's build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def bench_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_hash():
    """Hash of every source file the two builds read."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties"), os.path.join(HARNESS, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(dp, f) for dp, dns, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile the engine and the harness; return the runtime classpath.

    sbt compiles into target/ directories of the checkout, which the next
    build of other sources overwrites. So every classpath entry inside the
    checkout is copied under the build directory of this source hash, and
    the cached classpath names only those copies and jars outside it."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"[perfbench] not a graft source checkout: {need} is missing")
    home = os.path.join(bench_dir(), f"build-{source_hash()}")
    stamp = os.path.join(home, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cp = f.read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    log("building the engine and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=850)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if "perfbench" in l and ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("[perfbench] build failed")
    shutil.rmtree(home, ignore_errors=True)
    os.makedirs(home)
    entries = []
    for i, e in enumerate(cp[-1].strip().split(os.pathsep)):
        if os.path.realpath(e).startswith(os.path.realpath(ROOT) + os.sep):
            copy = os.path.join(home, f"{i:03d}-{os.path.basename(e)}")
            (shutil.copytree if os.path.isdir(e) else shutil.copy2)(e, copy)
            e = copy
        entries.append(e)
    with open(stamp + ".tmp", "w") as f:
        f.write(os.pathsep.join(entries))
    os.replace(stamp + ".tmp", stamp)
    return os.pathsep.join(entries)


def nproc():
    return len(os.sched_getaffinity(0))


def run_harness(classpath, workload, seed, seconds, trace, run_dir, deadline):
    inputs, out, tmp = (os.path.join(run_dir, d) for d in ("inputs", "out", "tmp"))
    os.makedirs(tmp)
    expected = gen.generate(workload, seed, inputs)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "perfbench.Harness",
            "--workload", workload, "--inputs", inputs, "--out", out,
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(nproc()),
            "--run-id", f"{workload}-{seed}-{os.getpid()}"])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, TMPDIR=tmp)
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("[perfbench] harness timed out")
    if proc.returncode != 0:
        raise SystemExit(f"[perfbench] harness exited with {proc.returncode}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), expected, inputs, out


def percentile(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q / 100.0 * len(s) + 0.5)) - 1))]


def latency(groups, q):
    """The best group's (pass's, or paced phase's) q-th percentile; 0 when
    no operation completed (the run is then already failed)."""
    return min((percentile(g, q) for g in groups if g), default=0.0)


def evaluate(workload, res, expected, inputs, out):
    """Correctness gate plus the workload's operation latencies."""
    failures = list(res["errors"])
    op_ms = [g for g in res["op_ms"] if g]
    if workload == "pipeline":
        failures += check.check_etl(res["csv_dir"], expected["etl"])
        for name in res["ack_files"]:
            acks = check.read_acks(os.path.join(out, "acks", f"{name}.tsv"))
            paced = name in res["paced_anchor_ms"]
            recording = expected["paced" if paced else "replay"]
            failures += [f"{name}: {m}" for m in check.check_acks(acks, recording)]
            if paced:
                op_ms.append(check.paced_latencies_ms(acks, recording,
                                                      float(res["paced_anchor_ms"][name]),
                                                      res["paced_time_scale"]))
    else:
        failures += check.check_registry(res["registry_dir"], os.path.join(inputs, "tables"),
                                         expected["tables"])
    return failures, op_ms


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--report", help="also write the end-to-end and per-layer values here")
    args = ap.parse_args(argv)

    classpath = build()
    start = time.time()
    run_dir = os.path.join(bench_dir(), "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res, expected, inputs, out = run_harness(
            classpath, args.workload, args.seed, args.seconds, args.trace, run_dir,
            start + RUN_LIMIT_S - 15)
        failures, op_ms = evaluate(args.workload, res, expected, inputs, out)
        if args.trace:
            with open(os.path.join(out, "spans.json")) as f:
                spans = f.read()
            trace_dir = os.path.join(bench_dir(), "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                f.write(spans)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    layers = res["layers"]
    e2e = {
        "setup_s": res["setup_s"],
        "pass_s": min(res["pass_s"]),
        "latency_ms_p50": latency(op_ms, 50),
        "latency_ms_p90": latency(op_ms, 90),
    }
    if args.trace and layers["trace.unattributed_frac"] > RECONCILE_TOLERANCE:
        failures.append("trace: per-layer self times leave "
                        f"{layers['trace.unattributed_frac']:.1%} of the wall time unattributed")
    for m in failures:
        log(f"FAIL {m}")
    n_lat = sum(len(g) for g in op_ms)
    log(f"passes (s): {[round(p, 3) for p in res['pass_s']]}; {n_lat} latency samples")
    if args.trace:
        layers["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in BENCH["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in BENCH["end_to_end"]}
    attempted = max(1, int(res["attempted"]))
    failed = min(attempted, int(res["failed"]) + len(failures) - len(res["errors"]))
    if args.report:
        with open(args.report, "w") as f:
            json.dump({"correct": not failures, "attempted": attempted, "failed": failed,
                       "e2e": e2e, "layers": layers, "passes": len(res["pass_s"]),
                       "pass_s": res["pass_s"], "pass_steal": res["pass_steal"],
                       "latency_samples": n_lat, "failures": failures}, f)
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
