#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload bulk_load --seed 1 --seconds 10 --trace 0

Run from the repository root. The first call builds the benchmark (the
repository's main sources plus perfbench/src) with sbt and caches the
classpath under perfbench/target; later calls reuse it until a source
file changes. The first run of each workload after a build also dumps the
classes it loaded to a class-data-sharing archive in perfbench/target;
later runs of that workload map it, which saves several seconds of JVM and
Spark start-up. Exits non-zero when the build fails, the repository
sources are missing, or any output check fails.
"""
import argparse
import hashlib
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CP_FILE = os.path.join(TARGET, "perfbench.classpath")
STAMP_FILE = os.path.join(TARGET, "perfbench.stamp")
WORKLOADS = ("bulk_load", "commit_churn")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == stamp:
                with open(CP_FILE) as cf:
                    return cf.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt_tmp = os.path.join(TARGET, "tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env["SBT_OPTS"] = env.get("SBT_OPTS", (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    ) + f" -XX:-UsePerfData -Djava.io.tmpdir={sbt_tmp}"
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    for f in os.listdir(TARGET):
        if f.endswith(".jsa"):
            os.remove(os.path.join(TARGET, f))
    with open(CP_FILE, "w") as fh:
        fh.write(cps[-1].strip())
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip()


def class_sharing(workload):
    """JVM flags that map the workload's class-data-sharing archive, or dump
    one at exit when there is none yet. JVM log output goes to stderr, so
    that stdout ends with the result line."""
    jsa = os.path.join(TARGET, f"{workload}.jsa")
    use = "-XX:SharedArchiveFile=" if os.path.isfile(jsa) else "-XX:ArchiveClassesAtExit="
    return [use + jsa, "-Xlog:disable", "-Xlog:all=warning:stderr"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("repository sources (build.sbt, src/main/scala/graft) not found next to perfbench/")
    cp = build()
    work = os.path.join(BENCH, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"] + class_sharing(a.workload) + [
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", os.path.join(work, "run"),
              "--trace-dir", os.path.join(BENCH, "out")])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run timed out", 3)
    finally:
        subprocess.run(["rm", "-rf", work])
    lines = out.splitlines()
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
