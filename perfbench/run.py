#!/usr/bin/env python3
"""Build the benchmark (and through it the program) from source, then run one
workload and pass its output through.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds with sbt (offline) and
caches the classpath; later runs reuse it until a source file changes. The
last line of stdout is the result object; build output goes to stderr.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
CP_FILE = os.path.join(BENCH, "target", "perfbench.classpath")
# class-data-sharing archive of the benchmark JVM, written by the first
# run after a build and mapped by every later one (faster JVM start)
CDS_FILE = os.path.join(BENCH, "target", "perfbench.jsa")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 175
HEAP = "3g"

# Module flags Spark 4 needs on JDK 17 outside spark-submit (build.sbt
# passes the same list to the self-tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_fingerprint():
    """Digest of every build input: the program's and the benchmark's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def classpath():
    fp = sources_fingerprint()
    if os.path.exists(CP_FILE):
        with open(CP_FILE) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    if shutil.which("sbt") is None:
        sys.exit("perfbench: sbt is not on PATH")
    log("building (sbt, offline) ...")
    if os.path.exists(CDS_FILE):
        os.remove(CDS_FILE)
    # jars, not class directories: only classes from jars can be archived
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspathAsJars"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=sbt_env(),
        stdout=subprocess.PIPE, stderr=sys.stderr, stdin=subprocess.DEVNULL,
        text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out)
        sys.exit(f"perfbench: build failed (sbt exit {code})")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CP_FILE), exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(fp + "\n" + cp + "\n")
    return cp


def git_rev():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    # the program is built from the checkout's own sources
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: the program's sources (build.sbt, src/main/scala) "
                 "are not in this checkout")
    cp = classpath()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cds = (f"-XX:SharedArchiveFile={CDS_FILE}" if os.path.exists(CDS_FILE)
           else f"-XX:ArchiveClassesAtExit={CDS_FILE}")
    # JVM log lines (CDS notes among them) go to stderr: stdout is the result
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m",
           "-Xlog:disable", "-Xlog:all=warning:stderr", cds,
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", WORK]
    env = dict(os.environ, PERFBENCH_GIT_REV=git_rev())
    try:
        code, _ = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                              stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s and was stopped")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
