#!/usr/bin/env python3
"""Build the repository with the benchmark and run one benchmark workload.

Usage (from the root of the repository):

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 15 --trace 0

The first run in a checkout compiles the repository's main sources and the
benchmark with sbt (offline) into `.bench_build/`; later runs reuse the
build while the sources are unchanged. Each run starts one JVM, which
generates the seeded inputs under `.bench_build/work/`, sets up, measures
for `--seconds` seconds and prints one JSON result as its last line of
standard output. The work directory is removed when the run ends.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("medallion_batch", "cdc_stream", "curation_dedup")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit; the repository's build passes the same list.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, so the build is redone when one changes."""
    out = [os.path.join(ROOT, "build.sbt"),
           os.path.join(ROOT, "project", "build.properties"),
           os.path.join(BENCH, "build.sbt"),
           os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build():
    """Compile with sbt and return the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == key:
            return lines[1]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    offline = ["-Dsbt.offline=true"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        offline += ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"]
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true"] + offline +
            ["perfbench/compile", "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    cp = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    shutil.rmtree(os.path.join(BUILD, "cds"), ignore_errors=True)
    entries = [jar_of(e, i) if os.path.isdir(e) else e
               for i, e in enumerate(cp[-1].split(os.pathsep))]
    with open(stamp, "w") as fh:
        fh.write(f"{key}\n{os.pathsep.join(entries)}\n")
    return os.pathsep.join(entries)


def jar_of(directory, i):
    """Pack a class directory into a jar: the JVM's class-data sharing
    archive (see `main`) accepts jars on the class path, not directories."""
    out = os.path.join(BUILD, "jars", f"classes-{i}.jar")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, fs in sorted(os.walk(directory)):
            for f in sorted(fs):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, directory))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to perfbench/: run from a checkout "
                 "of the repository", 2)
    cp = build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Class-data sharing: the first run of a workload in a checkout records
    # the classes it loads into an archive; later runs map it instead of
    # loading thousands of classes from the Spark jars, which cuts JVM and
    # Spark start-up by seconds. It changes nothing the benchmark times.
    cds = os.path.join(BUILD, "cds", f"{a.workload}.jsa")
    cds_tmp = f"{cds}.{os.getpid()}.tmp"
    os.makedirs(os.path.dirname(cds), exist_ok=True)
    share = (f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
             else f"-XX:ArchiveClassesAtExit={cds_tmp}")
    # The parallel collector: on a few cores the concurrent threads of the
    # default collector compete with Spark's task threads. A fixed heap:
    # growing it from its small default size slows the first timed ops.
    # A high first metaspace threshold: Spark's generated classes would
    # otherwise trigger full collections of 0.1-0.2 s inside timed ops.
    # The C1 compiler only: with C2 as well, a run of a minute never
    # leaves the JIT's warm-up (the compiler threads took about 40% of
    # the JVM's CPU time in every op), and the timings followed how much
    # CPU those threads got on a shared host.
    cmd = ["java", "-Xmx2g", "-Xms2g", "-XX:+UseParallelGC",
           "-XX:MetaspaceSize=512m", "-XX:TieredStopAtLevel=1", share,
           "-XX:-UsePerfData",
           "-Xlog:all=warning:stderr", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--trace-out", os.path.join(BUILD, "traces")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(cds_tmp):
            os.remove(cds_tmp)
        fail("run timed out", 4)
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(cds_tmp):
        if proc.returncode == 0:
            os.replace(cds_tmp, cds)
        else:
            os.remove(cds_tmp)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out[-4000:])
        fail(f"benchmark exited with {proc.returncode} and no result", 1)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
