#!/usr/bin/env python3
"""Benchmark front door: builds the program from source, runs one workload
in one JVM, checks its outputs and prints one JSON result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload cap_rtt|cap_bulk|sf01_mix \
        --seed N --seconds S --trace 0|1

The last line of stdout is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The line before it stamps the environment.
Exit status is 0 only when the run completed and every output check passed.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = "/root/testdata/sf0.1"
CHECK_PY = os.path.join(ROOT, "scripts", "check.py")
JVM_TIMEOUT_S = 170
RUN_TIMEOUT_S = 175
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(state):
    """Compile the program and the benchmark once per source fingerprint;
    later runs reuse the exported classpath."""
    os.makedirs(state, exist_ok=True)
    fp = fingerprint()
    cp_file = os.path.join(state, "classpath.json")
    with open(os.path.join(state, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file):
            with open(cp_file) as fh:
                cached = json.load(fh)
            if cached.get("fingerprint") == fp:
                return cached["classpath"], fp
        log = os.path.join(state, "build.log")
        with open(log, "w") as out:
            rc = subprocess.call(
                ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        with open(log) as fh:
            lines = [l.strip() for l in fh if l.strip()]
        if rc != 0 or not lines or "perfbench" not in lines[-1]:
            fail(f"build failed (rc={rc}); see {log}")
        with open(cp_file, "w") as fh:
            json.dump({"fingerprint": fp, "classpath": lines[-1]}, fh)
        return lines[-1], fp


def java_procs():
    n = 0
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/comm") as fh:
                    n += fh.read().strip() == "java"
            except OSError:
                pass
    return n


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def jdk():
    out = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return out.splitlines()[0] if out else None


def oracle_failures(dump, log, timeout, env):
    """Compare the warm-up dump with the DuckDB oracle through
    scripts/check.py; return the entries it failed (all of them if it
    exits non-zero without naming one)."""
    t = time.time()
    try:
        # unbuffered, so the FAIL lines printed before a timeout are kept:
        # the row-diff sample check.py prints after a mismatch is quadratic
        # in the rows, minutes for an entry with 100k rows
        r = subprocess.run([sys.executable, CHECK_PY, dump, SF_DIR], capture_output=True,
                           text=True, timeout=min(60.0, max(5.0, timeout)),
                           stdin=subprocess.DEVNULL, env={**os.environ, "PYTHONUNBUFFERED": "1"})
        out, rc = r.stdout + r.stderr, r.returncode
    except subprocess.TimeoutExpired as e:
        partial = e.stdout or ""
        if isinstance(partial, bytes):
            partial = partial.decode(errors="replace")
        out, rc = f"{partial}\ntimed out after {e.timeout:.0f} s", -1
    env["oracle_check_s"] = round(time.time() - t, 3)
    with open(log, "w") as fh:
        fh.write(out)
    bad = sorted(set(re.findall(r"^FAIL (\S+):", out, re.M)))
    if rc != 0 and not bad:
        with open(os.path.join(dump, "oracle_sql.json")) as fh:
            bad = sorted(json.load(fh))
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.time()

    graft_env = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    if graft_env:
        fail(f"refusing to run with {', '.join(graft_env)} set: they change program behavior")
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    needed = [bench_json, os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(ROOT, "fixtures", "golden", "all-fixtures.json"), CHECK_PY]
    missing = [os.path.relpath(p, ROOT) for p in needed if not os.path.exists(p)]
    if missing:
        fail(f"not a checkout of the program (missing {', '.join(missing)})")
    with open(bench_json) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if args.workload == "sf01_mix" and not os.path.isdir(SF_DIR):
        fail(f"{SF_DIR} not found")

    out_root = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    state = os.path.join(out_root, "perfbench")
    classpath, fp = build(state)

    work = os.path.join(state, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    env = {
        "nproc": os.cpu_count(), "loadavg_start": loadavg(), "java_procs_start": java_procs(),
        "jdk": jdk(), "git_commit": git_commit(), "source_sha256": fp,
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
    }
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xms2g", "-Xmx2g", "-Xmn512m", f"-Djava.io.tmpdir={work}/tmp", "-Dsun.net.httpserver.nodelay=true",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--root", ROOT, "--work", work, "--sf", SF_DIR, "--out", result_file])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        # set-up time is measured from here: JVM start to first timed operation
        cmd += ["--t0", repr(time.time())]
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM timed out after {JVM_TIMEOUT_S} s; see {work}/jvm.log")
    if rc != 0 or not os.path.exists(result_file):
        fail(f"JVM exited {rc}; see {work}/jvm.log")
    with open(result_file) as fh:
        res = json.load(fh)

    correct, attempted, failed = res["correct"], res["attempted"], res["failed"]
    if args.workload == "sf01_mix":
        bad = oracle_failures(os.path.join(work, "mixdump"), os.path.join(work, "check.log"),
                              started + RUN_TIMEOUT_S - time.time(), env)
        executions = res["info"]["executions"]
        failed += sum(int(executions.get(n, 1)) for n in bad)
        correct = correct and not bad
        res["info"]["oracle_failed"] = bad

    env.update({"loadavg_end": loadavg(), "java_procs_end": java_procs(),
                "session_confs": res["info"].pop("confs")})
    env["run"] = res["info"]
    if args.trace:
        traces = os.path.join(state, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "trace_spans.json"),
                    os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))

    if args.trace:
        wanted, values = spec["per_layer"], res["layer"]
    else:
        wanted, values = spec["end_to_end"], res["e2e"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            if not args.trace:
                fail(f"end-to-end metric {m['name']} missing from the run")
            v = 0.0  # a layer this workload does not exercise
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    for d in ("tmp", "mixdump", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print("env: " + json.dumps(env, sort_keys=True))
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
