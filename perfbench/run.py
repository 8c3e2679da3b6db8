#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline); later runs reuse the build while
no source file changed. The benchmark JVM writes only under
perfbench/.work/, which is removed when the run ends. The last line of
stdout is the result object.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
JVMOPTS = os.path.join(HERE, "target", "jvmopts.txt")
STAMP = os.path.join(HERE, "target", "sources.sha1")
WORKLOADS = ("point_reads", "history_scans")
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Digest of every file the build reads, to tell when to rebuild."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()


def build():
    for need in ("build.sbt", os.path.join("src", "main")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} at the repository root: nothing to build")
    digest = sources_digest()
    if all(os.path.exists(f) for f in (CLASSPATH, JVMOPTS, STAMP)):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building with sbt", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(CLASSPATH) or not os.path.exists(JVMOPTS):
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    with open(JVMOPTS) as fh:
        jvmopts = [l.strip() for l in fh if l.strip()]
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # C1 only: the JIT reaches its steady state within the set-ups, where
    # C2 keeps recompiling Spark's planner through the whole timed loop.
    # PERFBENCH_JIT=c2 keeps the default tiered JIT, to compare the two.
    jit = [] if os.environ.get("PERFBENCH_JIT") == "c2" else ["-XX:TieredStopAtLevel=1"]
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC"] + jit + jvmopts
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", f"-Dderby.system.home={work}"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--spans", os.path.join(HERE, ".work", f"spans-{a.workload}-{a.seed}.jsonl")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    # a terminated runner still stops the JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run exceeded its time limit", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}", 4)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result", 5)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
