#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run in a checkout builds the engine and the benchmark with sbt
(offline) and records the runtime classpath; later runs reuse it until a
source file changes. Each run generates the batch workload's inputs from the
seed (gen.py), then starts one JVM, handing it the workload's traffic
properties from gen.py. The JVM sets up, measures for about S seconds, checks
the outputs and prints a REPORT line followed by the result object as the
last line of stdout.
Everything a run writes stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SPANS = os.path.join(BUILD, "spans")
WORKLOADS = tuple(gen.WORKLOADS)
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
GEN_REPS = 3

# Spark 4 on JDK 17 needs these outside spark-submit (as build.sbt sets
# for the engine's own forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build if the sources changed since the last build; return the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    want = stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"]
    try:
        proc = subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S,
                              start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine sources (build.sbt, src/main/scala/graft) are not in this checkout")
    cp = classpath()

    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    extra, secs, generated = [], [], {}
    if a.workload in gen.BATCH:
        # set-up is repeated: the inputs are generated GEN_REPS times and
        # the median counts
        dirs = []
        for r in range(GEN_REPS):
            d = os.path.join(work, f"data-{r}")
            t0 = time.perf_counter()
            generated = gen.generate(a.workload, a.seed, d, os.path.join(work, f"truth-{r}"))
            secs.append(time.perf_counter() - t0)
            dirs.append(d)
        extra = ["--data", ",".join(dirs), "--gen-s", ",".join(f"{x:.6f}" for x in secs)]
    gen.write_description(a.workload, os.path.join(work, "gen.json"), secs, generated)
    traffic = gen.WORKLOADS[a.workload]["traffic"]
    extra += ["--traffic", ",".join(f"{k}={v[0]}" for k, v in traffic.items()
                                    if isinstance(v[0], (int, float)))]
    java = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    java += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
             "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--work", work] + extra
    proc = subprocess.Popen(java, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    # a traced run keeps its spans for reading after the run
    for f in os.listdir(work):
        if f.startswith("spans-"):
            os.makedirs(SPANS, exist_ok=True)
            shutil.copy(os.path.join(work, f), SPANS)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    report = [l for l in lines if l.startswith("REPORT ")]
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for l in report:
        print(l)
    if result is None:
        fail(f"the benchmark JVM exited with {proc.returncode} and no result")
    print(result)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
