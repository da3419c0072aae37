#!/usr/bin/env python3
"""Run one graftbench workload and print its metrics.

    python3 graftbench/run.py --workload cog_write --seed 1 --seconds 8 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with sbt (offline) and keeps the classpath under
.bench_build/; later runs reuse it while no source file has changed. The
last line of standard output is one JSON object: correct, attempted,
failed and metrics. See graftbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
WORKLOADS = ("cog_write", "cog_read", "dedup")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# What graft's own build.sbt gives its forked JVMs: the JDK 17 module
# opens Spark needs outside spark-submit, and the Host header the
# virtual-hosted S3 dialect sets. Spark settings live in the session
# builder (graftbench/src/main/scala/graftbench/Harness.scala).
JAVA_OPTS = [
    opt
    for pkg in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar",
    )
    for opt in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
] + [
    "-Djdk.httpclient.allowRestrictedHeaders=host",
    "-Xmx3g",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, so a change anywhere triggers a rebuild."""
    files = [
        os.path.join(ROOT, "build.sbt"),
        os.path.join(ROOT, "project", "build.properties"),
        os.path.join(BENCH, "build.sbt"),
        os.path.join(BENCH, "project", "build.properties"),
        os.path.join(ROOT, "src", "test", "scala", "graft", "sink", "MockS3Server.scala"),
    ]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false",
           "-Dsbt.log.noformat=true", "benchClasspath"]
    try:
        # sbt's log goes to stderr: standard output carries only results
        subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, check=True)
    except (subprocess.SubprocessError, OSError) as e:
        fail(f"build failed: {e}")
    with open(os.path.join(BENCH, "target", "bench-classpath.txt")) as fh:
        entries = fh.read().split(os.pathsep)
    # graft's and the bench's class directories go into one jar: the JVM
    # only archives classes loaded from jars (see archive_opts)
    jar = os.path.join(BUILD, "graftbench.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d in (e for e in entries if os.path.isdir(e)):
            for top, _, names in os.walk(d):
                for n in names:
                    z.write(os.path.join(top, n), os.path.relpath(os.path.join(top, n), d))
    cp = os.pathsep.join([jar] + [e for e in entries if not os.path.isdir(e)])
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def archive_opts():
    """Class-data sharing: the first run after a build dumps the classes it
    loaded to an archive at exit; later runs map it, which takes several
    seconds off every cold JVM start."""
    if os.path.exists(ARCHIVE):
        return [f"-XX:SharedArchiveFile={ARCHIVE}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    return [f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}: run from the root of a graft checkout")
    cp = build()

    scratch = os.path.join(BUILD, f"run-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *JAVA_OPTS, *archive_opts(), f"-Djava.io.tmpdir={scratch}", "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(len(os.sched_getaffinity(0))), "--scratch", scratch]
    result = None
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
        for line in out.splitlines():
            if line.startswith('{"correct"'):
                result = line
            else:
                print(line)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        fail(f"run failed with exit code {proc.returncode}", 1)
    got = set(json.loads(result)["metrics"])
    want = declared_metrics(args.trace)
    if got != want:
        fail(f"metrics {sorted(got ^ want)} differ from BENCHMARK.json", 1)
    print(result, flush=True)


if __name__ == "__main__":
    main()
