#!/usr/bin/env python3
"""The repository benchmark: one command per workload, seed and length.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles the engine and the harness
(`perfbench/build.sbt`, once per source change), runs the harness JVM,
checks every output, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones (see
perfbench/README.md). Build logs, inputs, outputs and spans go under
`.bench_build/perfbench/` in the checkout.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("baseline35", "iterative_loops", "stream_jobs")
# the batch tables: the project's sf0.01 test tables (lineitem 60,000 rows)
TABLES = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 165
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def work_root() -> str:
    return os.path.join(ROOT, ".bench_build", "perfbench")


def source_digest() -> str:
    """Digest of everything the harness classpath is compiled from."""
    h = hashlib.sha256(ROOT.encode())  # the classpath names this checkout
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build() -> str:
    """Compiles the harness project if its sources changed; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    out = os.path.join(work_root(), "build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as lf:
        rc = subprocess.run(["sbt", "--batch", *opts, "compile", "export Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    with open(log) as lf:
        lines = [ln.strip() for ln in lf if ln.strip()]
    if rc != 0 or not lines or ":" not in lines[-1] or lines[-1].startswith("["):
        fail(f"build failed (rc={rc}); see {log}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def machine() -> dict:
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return {"nproc": os.cpu_count(), "loadavg": load}


def run_jvm(cp: str, args: argparse.Namespace, data: str, work: str) -> dict:
    out = os.path.join(work, "result.json")
    spans = os.path.join(work, "spans.jsonl")
    cpus = str(min(4, os.cpu_count() or 4))
    cmd = ["java", *[x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={work}",
           "-cp", cp, "perfbench.Harness",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--work", work, "--out", out]
    if args.trace:
        cmd += ["--spans", spans]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_IP="127.0.0.1")
    log = os.path.join(work, "jvm.log")
    launch_ms = time.time() * 1000.0
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        # a terminated benchmark must not leave its JVM behind
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness JVM timed out after {JVM_TIMEOUT_S} s; see {log}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or not os.path.exists(out):
        fail(f"harness JVM failed (rc={rc}); see {log}")
    with open(out) as f:
        rec = json.load(f)
    rec["launch_ms"] = launch_ms
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "tools", "oracle_check.py")):
        fail("tools/oracle_check.py not found; run from the repository root")

    cp = build()
    work = os.path.join(work_root(), "runs", f"{args.workload}-seed{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    before = machine()
    rec = run_jvm(cp, args, TABLES, work)
    after = machine()

    if args.workload == "stream_jobs":
        result = metrics.stream_result(rec, args.trace == 1)
    else:
        checks = metrics.oracle_checks(ROOT, TABLES, os.path.join(work, "out"), rec)
        result = metrics.batch_result(rec, checks, args.trace == 1)
    state = {**{f"{k}_before": v for k, v in before.items()},
             "loadavg_after": after["loadavg"],
             # a preceding run still counts in the 1-minute average, so only
             # more runnable threads than cores marks the box as contended
             "contended": before["loadavg"] > before["nproc"],
             "gen_late_ms_max": result["info"].get("gen_late_ms_max")}
    info = {"machine": state, **result["info"]}
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump({"args": vars(args), "info": info, "metrics": result["metrics"],
                   "failures": result["failures"]}, f, indent=1)
    # context lines first; the result line is always the last one
    print(json.dumps({"machine": state}))
    for msg in result["failures"]:
        print(f"FAILED: {msg}")
    print(json.dumps({"correct": not result["failures"],
                      "attempted": result["attempted"],
                      "failed": result["failed"],
                      "metrics": result["metrics"]}))


if __name__ == "__main__":
    main()
