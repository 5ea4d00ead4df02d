#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload <query_mix|mission|index_lifecycle>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the engine
and the benchmark with sbt and records a JVM class archive (both cached under
.bench_build/ and rebuilt whenever a source file changes); every run then
starts one JVM with perfbench.Main, checks the outputs it dumps (query_mix
results against the DuckDB oracle), and prints the result as the last line
of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Untraced runs report the end-to-end metrics, traced runs the per-layer ones.
The line before it carries run context (host, seed, input sizes, noise
probes) that is recorded but not gated.
"""
import argparse
import glob
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
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
DEADLINE_S = 170.0
BUILD_TIMEOUT_S = 600.0

# Spark 4 on JDK 17 outside spark-submit needs these (the list the root
# build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for rel in SOURCES:
        p = os.path.join(ROOT, rel)
        files = [p] if os.path.isfile(p) else sorted(
            f for f in glob.glob(os.path.join(p, "**", "*"), recursive=True)
            if os.path.isfile(f))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so no process outlives the launcher."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def java_cmd(cp, work, share):
    """The JVM command line; `share` is the class-archive flag, either
    recording it at exit or mapping it (with -Xshare:on a JVM that cannot
    map the archive exits instead of running without it)."""
    cmd = ["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={work}/tmp",
           "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [share] if share.startswith("-XX:Archive") else \
        [share, "-Xshare:on"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def build():
    """sbt-builds the engine and the benchmark as jars, then records a
    class-data-sharing archive of the classes a JVM loads to start a Spark
    session (perfbench.StartOnly runs no engine code, so every engine class
    is still loaded inside the measured windows). With the archive a run
    reaches a ready session in about half the time, which the check budget
    needs. Returns the classpath; fails if the archive is not recorded."""
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    out_path = os.path.join(BUILD, "sbt-export.txt")
    log("building engine and benchmark with sbt")
    t0 = time.time()
    with open(out_path, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.forcestart=false",
                          "export perfbench/Runtime/fullClasspathAsJars"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(out_path) as f:
        text = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(text[-40:]) + "\n")
        raise SystemExit(f"sbt build failed with exit code {rc}")
    cp = [l for l in text if l.startswith("/") and ".jar" in l]
    if not cp:
        raise SystemExit("sbt printed no classpath")
    cp = cp[-1]
    log(f"built in {time.time() - t0:.1f} s")

    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(BUILD, "archive-run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.time()
    try:
        with open(os.path.join(BUILD, "archive-run.log"), "w") as out:
            rc = run_bounded(
                java_cmd(cp, work, f"-XX:ArchiveClassesAtExit={ARCHIVE}")
                + ["perfbench.StartOnly", work], BUILD_TIMEOUT_S, cwd=work,
                stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(ARCHIVE):
        raise SystemExit(f"class archive not recorded (exit code {rc}); "
                         "see .bench_build/archive-run.log")
    log(f"class archive recorded in {time.time() - t0:.1f} s")
    return cp


def classpath():
    """The benchmark classpath, rebuilt whenever a source file changed."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    lines = []
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            lines = f.read().splitlines()
    if len(lines) != 2 or lines[0] != stamp or not os.path.exists(ARCHIVE):
        lines = [stamp, build()]
        with open(cp_file, "w") as f:
            f.write("\n".join(lines) + "\n")
    return lines[1]


def heap():
    """Half the host's memory, 2 to 8 GB: the driver-heap rule the repo's
    test runs use."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        gb = max(2, min(8, kb // (2 * 1048576)))
    except (OSError, StopIteration):
        gb = 2
    return f"{gb}g"


def main():
    # a terminated launcher still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["query_mix", "mission", "index_lifecycle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"engine source missing: {need} (run from a full checkout)")
            return 2

    cp = classpath()
    started = time.time()  # a build has its own time limit, not the run's
    work = os.path.join(BUILD, "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    jvm_log = os.path.join(work, "jvm.log")
    cmd = java_cmd(cp, work, f"-XX:SharedArchiveFile={ARCHIVE}") + [
            "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", result_file]
    try:
        budget = DEADLINE_S - (time.time() - started) - 10
        jvm_started = time.time()
        with open(jvm_log, "w") as out:
            rc = run_bounded(cmd, budget, cwd=work, stdout=out,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(result_file):
            with open(jvm_log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            log(f"benchmark JVM failed with exit code {rc}")
            return 1
        with open(result_file) as f:
            res = json.load(f)

        jvm_s = time.time() - jvm_started
        attempted, failed = res["attempted"], res["failed"]
        gates = list(res["gates"])
        if args.workload == "query_mix":
            import perfcheck
            checks = perfcheck.oracle(os.path.join(work, "data"),
                                      os.path.join(work, "verify"),
                                      os.path.join(work, "tmp"))
            attempted += len(checks)
            bad = [f"{q}: {v}" for q, v in sorted(checks.items())
                   if not v.startswith("OK")]
            failed += len(bad)
            gates += bad
        if args.trace:
            spans = res["context"].get("spans_file")
            if spans and os.path.exists(spans):
                keep = os.path.join(BUILD, "traces")
                os.makedirs(keep, exist_ok=True)
                shutil.copy(spans, os.path.join(
                    keep, f"{args.workload}-{args.seed}.jsonl"))
        for g in gates:
            log(f"gate failed: {g}")
        context = dict(res["context"])
        context.pop("spans_file", None)
        context.update(workload=args.workload, trace=args.trace,
                       class_archive=True,
                       jvm_wall_s=jvm_s, wall_s=time.time() - started,
                       failed_op_share=failed / max(attempted, 1))
        print(json.dumps({"context": context}))
        print(json.dumps({
            "correct": not gates and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": m["value"], "unit": m["unit"]}
                        for m in res["metrics"]},
        }))
        return 0
    except subprocess.TimeoutExpired:
        log("benchmark JVM ran past its deadline and was stopped")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
