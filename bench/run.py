#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 bench/run.py --workload <sap_nightly|lake_serve|llm_corpus> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. On first use (or when a source file
was changed, added or removed since the last build) it builds the product
and the benchmark from source with sbt (bench/build.sbt); every run after
that starts one JVM directly, with the fixed options in JVM_OPTS, so sbt
is never on the measured path. The JVM's standard output
is forwarded; its last line is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. Spark's log goes to
bench/target/logs/. Everything the run writes stays under bench/target/.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
# the source files the build saw (path, size, mtime): a changed, added or
# deleted source rebuilds
BUILD_KEY = os.path.join(TARGET, "build.key")
WORKLOADS = ("sap_nightly", "lake_serve", "llm_corpus")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# Fixed JVM options, independent of the environment: the JDK module opens
# Spark needs outside spark-submit (JavaModuleOptions.defaultModuleOptions),
# no UI, UTC session time, a 3 GiB heap, and no hsperfdata files in the
# system temp directory (a run writes only inside the checkout).
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_OPTS = [o for p in ADD_OPENS for o in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Xmx3g", "-XX:-UsePerfData"]


def fail(msg, code=2):
    print(f"error: {msg}", file=sys.stderr)
    return code


def build_inputs():
    pats = ["build.sbt", "project/*.sbt", "project/build.properties", "src/main/**/*",
            "bench/build.sbt", "bench/project/build.properties", "bench/src/**/*"]
    for p in pats:
        for f in glob.glob(os.path.join(ROOT, p), recursive=True):
            if os.path.isfile(f):
                yield f


def build_key():
    return "\n".join(sorted(f"{os.path.relpath(f, ROOT)}\t{os.path.getsize(f)}\t{os.stat(f).st_mtime_ns}"
                            for f in build_inputs()))


def stale(key):
    if not (os.path.isfile(CLASSPATH) and os.path.isfile(BUILD_KEY)):
        return True
    with open(BUILD_KEY) as f:
        return f.read() != key


def build(log_dir, key):
    log = os.path.join(log_dir, "build.log")
    if os.path.isfile(BUILD_KEY):
        os.remove(BUILD_KEY)
    # sbt's own state (server socket, compiler bridge) stays in the checkout
    cmd = ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(TARGET, 'sbt-global')}", "bench/benchLaunch"]
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait(p, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return False
    with open(BUILD_KEY, "w") as f:
        f.write(key)
    return True


def wait(p, timeout):
    """Wait for `p`; past `timeout`, kill its whole process group and wait
    for it to end. Returns the exit code, or None on timeout."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        return fail(f"unknown workload {a.workload!r}; choose one of {', '.join(WORKLOADS)}")
    if a.seconds < 1:
        return fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        return fail("the program's sources (build.sbt, src/main/scala/graft) are not in this "
                    "checkout; run from the root of a full checkout")
    log_dir = os.path.join(TARGET, "logs")
    os.makedirs(log_dir, exist_ok=True)
    key = build_key()
    if stale(key) and not build(log_dir, key):
        return fail("build failed (see bench/target/logs/build.log)")
    with open(CLASSPATH) as f:
        classpath = f.read().strip()
    tag = f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(TARGET, "work", tag)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work]
    if a.trace:
        cmd += ["--spans", os.path.join(TARGET, "traces", f"{tag}.jsonl")]
    log = os.path.join(log_dir, f"{tag}.log")
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                 stdin=subprocess.DEVNULL, start_new_session=True, text=True)
            # a stopped runner stops its JVM too
            signal.signal(signal.SIGTERM, lambda *_: (os.killpg(p.pid, signal.SIGKILL), sys.exit(143)))
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.communicate()
                return fail(f"the run did not end within {RUN_TIMEOUT_S} s (log: {log})", 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if p.returncode != 0 or not lines:
        sys.stdout.write(out)
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return fail(f"the benchmark exited with code {p.returncode} (log: {log})", 4)
    result = json.loads(lines[-1])
    missing = {"correct", "attempted", "failed", "metrics"} - set(result)
    if missing:
        return fail(f"the result line lacks {sorted(missing)}", 5)
    sys.stdout.write(out if out.endswith("\n") else out + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
