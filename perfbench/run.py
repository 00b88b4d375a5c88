#!/usr/bin/env python3
"""Repository benchmark: the pipeline service and scaled dedup.

Run from the repository root:

    python3 perfbench/run.py --workload service_mix --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source with sbt on first use (or
when a source file changed), runs one workload in a fresh JVM, checks
every output, and prints one JSON line last: `correct`, `attempted`,
`failed` and `metrics` (the `end_to_end` metrics of BENCHMARK.json with
`--trace 0`, its `per_layer` metrics with `--trace 1`). A traced run
also writes its spans to perfbench/out/trace-<workload>-<seed>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
OUT = HERE / "out"
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, program and harness."""
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    single = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "build.sbt", HERE / "project" / "build.properties"]
    if not all(p.is_file() for p in single) or not all(r.is_dir() for r in roots):
        fail("program sources not found next to the benchmark; "
             "run from a checkout of the repository")
    files = list(single)
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build():
    """Compile with sbt unless the stamped sources are unchanged;
    returns the runtime classpath."""
    digest = hashlib.sha1()
    for p in source_files():
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    stamp_file, cp_file = TARGET / "build.stamp", TARGET / "classpath.txt"
    if not (stamp_file.is_file() and cp_file.is_file()
            and stamp_file.read_text() == stamp):
        done = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=HERE,
                              stdout=sys.stderr, stderr=sys.stderr,
                              stdin=subprocess.DEVNULL, timeout=850)
        if done.returncode != 0 or not cp_file.is_file():
            fail("build failed")
        stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def run_jvm(cp, args, scratch):
    """Runs the harness JVM; returns (last stdout line, peak RSS in MB)."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={scratch / 'tmp'}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace),
            str(scratch)]
    (scratch / "tmp").mkdir(parents=True, exist_ok=True)
    # the harness halts when its stdin closes, so it cannot outlive us
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.PIPE, start_new_session=True)
    timer = threading.Timer(JVM_TIMEOUT_S,
                            lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    try:
        lines = proc.stdout.read().decode().splitlines()
        _, status, usage = os.wait4(proc.pid, 0)
        proc.returncode = os.waitstatus_to_exitcode(status)
    finally:
        timer.cancel()
    if proc.returncode != 0:
        fail(f"harness exited with {proc.returncode}")
    lines = [ln for ln in lines if ln.startswith("{")]
    if not lines:
        fail("harness printed no result")
    return json.loads(lines[-1]), usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json not found")
    spec = json.loads(spec_file.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    cp = build()

    scratch = OUT / f"run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    launched = time.time()
    try:
        out, rss_mb = run_jvm(cp, args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    found = dict(out["metrics"])
    if args.trace == 0:
        # set-up: JVM launch to a ready session, then the workload's own
        found["setup_s"] = (out["session_ready_ms"] / 1000.0 - launched
                            + out["setup_workload_s"])
        found["peak_rss_mb"] = rss_mb
        wanted = spec["end_to_end"]
    else:
        wanted = spec["per_layer"]
    metrics, missing = {}, []
    for m in wanted:
        value = found.get(m["name"])
        if value is None and args.trace == 1:
            value = 0.0  # a layer this workload does not exercise
        if value is None:
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    if missing:
        print(f"perfbench: missing metrics {missing}", file=sys.stderr)
    failed = int(out["failed"])
    print(json.dumps({"correct": failed == 0 and not missing,
                      "attempted": int(out["attempted"]), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
