#!/usr/bin/env python3
"""graft's benchmark: builds graft and the benchmark from source, then runs
one workload in one JVM and prints its result object as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      [--data <dir>] [--record <file>]

--data   parquet tables to run on (default: the benchmark's own sf0.01 copy)
--record write the observed per-query fingerprints to <file> instead of
         checking them against perfbench/expected/<scale>.tsv

The build runs sbt offline once per source tree; later runs reuse its
classpath. Everything the benchmark writes goes under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("interchange", "pipeline_exec")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# graft's build.sbt, from org.apache.spark.launcher.JavaModuleOptions).
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


def source_digest():
    """Hash of every input of the build, so an edited tree is rebuilt."""
    h = hashlib.sha256()
    for top in (ROOT, BENCH):
        for rel in ("build.sbt", os.path.join("project", "build.properties")):
            p = os.path.join(top, rel)
            if os.path.exists(p):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
        for base, dirs, files in os.walk(os.path.join(top, "src")):
            dirs.sort()
            for name in sorted(files):
                p = os.path.join(base, name)
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles graft and the benchmark; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no graft sources at {ROOT} (build.sbt, src/main/scala)")
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("sbt build failed")
    cp = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if not cp:
        fail("sbt printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(f"{digest}\n{cp[-1]}\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--data", default=os.path.join(BENCH, "data", "sf0.01"))
    ap.add_argument("--record")
    a = ap.parse_args()

    data = os.path.abspath(a.data)
    scale = os.path.basename(data.rstrip("/"))
    expected = os.path.join(BENCH, "expected", f"{scale}.tsv")
    if not os.path.isdir(data):
        fail(f"no data directory {data}")
    if a.record is None and a.workload != "interchange" and not os.path.exists(expected):
        fail(f"no expected fingerprints {expected}")
    classpath = build()

    work = os.path.join(BUILD, "work")
    tmp = os.path.join(work, "tmp")
    traces = os.path.join(BUILD, "traces")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(traces, exist_ok=True)
    # A fixed, pre-touched heap: peak RSS then moves with what the program
    # holds outside the heap, not with when the heap happened to grow.
    # The exec workload runs C1 only: with C2, compiles still running in the
    # measured window made CPU per op vary by a third from run to run.
    # Interchange, pure planning on the calling thread, runs at half speed
    # under C1; it keeps C2 and warms it up on every core (NOTES.md).
    jit = [] if a.workload == "interchange" else ["-XX:TieredStopAtLevel=1"]
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", *jit,
           "-XX:ReservedCodeCacheSize=1g",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--data", data, "--work", work, "--expected", expected,
           "--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.json")]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    try:
        proc = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1][:300]}", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
