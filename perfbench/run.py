#!/usr/bin/env python3
"""graft benchmark: one seeded workload per invocation, run in one Spark JVM.

    python3 perfbench/run.py --workload <incremental|query> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Everything the benchmark writes stays inside the
checkout: build output under $CARGO_TARGET_DIR (default .bench_build), inputs,
tables, Spark scratch space, logs and span files under .bench_work.

The last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics. Without --trace 1 the metrics are the
end-to-end ones of BENCHMARK.json, with it the per-layer ones. Lines before it
list every measured figure by name with its unit. NOTES.md explains the
workloads and the metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("incremental", "query")
# JVM options Spark needs on JDK 17 outside spark-submit
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# the query workload's tables: a copy of the engine's sf0.1 test data
# (600,000 lineitem rows), kept under the benchmark's own directory
QUERY_DATA = os.path.join(HERE, "data", "sf0.1")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(out_dir, logs):
    """Compile engine + benchmark with sbt unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    stamp = os.path.join(out_dir, "perfbench-build.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    os.makedirs(out_dir, exist_ok=True)
    # sbt resolves offline, from the caches and repositories its environment
    # (SBT_OPTS, COURSIER_*) names
    env = dict(os.environ, COURSIER_MODE="offline", CARGO_TARGET_DIR=out_dir)
    log("building engine + benchmark with sbt")
    with open(os.path.join(logs, "build.log"), "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.version=1.10.0",
             "-Dsbt.server.forcestart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        lf.write(p.stdout)
    cp = [ln.strip() for ln in p.stdout.splitlines()
          if "perfbench-target" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cp:
        raise RuntimeError(f"sbt build failed (exit {p.returncode}); "
                           f"see {os.path.join(logs, 'build.log')}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1]


def run_jvm(cp, args, run_dir, extra, logs):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, *OPENS, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", run_dir,
           "--cache", os.path.join(ROOT, ".bench_work", "inputs"), *extra]
    log_path = os.path.join(logs, f"{args.workload}-{args.seed}-{args.trace}.log")
    with open(log_path, "w") as lf:
        # own process group, so a timeout ends everything the JVM started
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf,
                             stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            raise RuntimeError(f"benchmark JVM timed out; see {log_path}")
    res = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH ")]
    if p.returncode != 0 or not res:
        raise RuntimeError(f"benchmark JVM failed (exit {p.returncode}); "
                           f"see {log_path}")
    return json.loads(res[-1][len("PERFBENCH "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no engine sources under {ROOT}/src/main/scala: run from the root "
            "of a graft checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".bench_work")
    logs = os.path.join(work, "logs")
    os.makedirs(logs, exist_ok=True)
    out_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    cp = build(os.path.join(ROOT, out_dir), logs)

    run_dir = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        extra = ["--data", QUERY_DATA] if args.workload == "query" else []
        t0 = time.time()
        r = run_jvm(cp, args, run_dir, extra, logs)
        # JVM launch, session start, and the JVM's own untimed set-up steps
        # (base builds, the cold query pass); the seeded input generation is
        # timed apart, since a cached corpus skips it
        setup_s = r["jvm_start_ms"] / 1e3 - t0 + r["session_s"] + r["setup_s"]
        failures = list(r["failures"])
        attempted, failed = r["attempted"], r["failed"]
        if args.workload == "query":
            sys.path.insert(0, HERE)
            import oracle
            t_or = time.time()
            checked, bad = oracle.compare(QUERY_DATA, os.path.join(run_dir, "oracle_out"),
                                          r["queries"], os.path.join(work, "oracle"))
            log(f"oracle compare {time.time() - t_or:.3f} s")
            attempted += checked
            failed += len(bad)
            failures += [f"oracle {b}" for b in bad]
        spans = os.path.join(run_dir, f"spans-{args.workload}-{args.seed}.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(work, "spans"), exist_ok=True)
            shutil.move(spans, os.path.join(work, "spans", os.path.basename(spans)))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for f in failures:
        log(f"FAILED {f}")
    e2e = dict(r["e2e"], setup_s=setup_s)
    layer = dict(r["layer"], **{"run.failed_frac": failed / max(1, attempted)})
    figures = r["figures"]
    for k, (v, unit) in sorted(figures.items()):
        print(f"{k} = {v:.6g} {unit}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k in [m["name"] for m in spec["end_to_end"]]:
        print(f"{k} = {e2e[k]:.6g} {units[k]}")
    if args.trace:
        for k, v in sorted(layer.items()):
            if k not in figures:
                print(f"{k} = {v:.6g} {units.get(k, '')}".rstrip())
        wanted, source = spec["per_layer"], layer
        # a layer this workload does not use reads 0
        for m in wanted:
            source.setdefault(m["name"], 0.0)
    else:
        wanted, source = spec["end_to_end"], e2e
        missing = [m["name"] for m in wanted if m["name"] not in source]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
                    for m in wanted}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
