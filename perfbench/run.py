#!/usr/bin/env python3
"""Benchmark of the WRM station pipeline and the engine's registry: one run
of one workload.

    python3 perfbench/run.py --workload wrm_cycle --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run in a checkout compiles the
program (src/main/scala) and the benchmark (perfbench/scala) with the Scala
compiler that ships in Spark's jars, into .bench_build/; later runs reuse
that build while the sources are unchanged. Each run starts one JVM, which
sets up, warms up and then times whole passes of the workload for
--seconds; the outputs are then checked (checks.py) and the last line of
stdout is the result as JSON. --trace 1 is a separate run that records
spans and Spark counters and reports the per-layer metrics; its spans and
self times go to .bench_build/out/<workload>-<seed>.traced.json.trace.json.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
JAVA_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# per-layer metrics of layers a workload's timed pass never calls read 0
NOT_CALLED = {
    "wrm_cycle": ("relational.", "text."),
    "registry_work": ("sources.", "wrm.", "session.plan_ms", "session.jobs_per_date",
                      "session.jobs_per_request"),
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_quiet(cmd, log, timeout):
    """Run cmd with output to log; kill it and wait on timeout."""
    with open(log, "wb") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def tail(path, n=40):
    with open(path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        fail("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def build():
    """Compile program and benchmark once per source state; returns the classpath."""
    prog, bench = sources("src/main/scala"), sources(os.path.join(HERE, "scala"))
    if not prog or not bench:
        fail("no program sources: run from the repository root of a full checkout")
    digest = hashlib.sha256()
    for f in prog + bench:
        digest.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(BUILD, "classes.stamp")
    out_prog, out_bench = os.path.join(BUILD, "classes"), os.path.join(BUILD, "bench-classes")
    jars = spark_jars()
    spark_cp = sorted(glob.glob(os.path.join(jars, "*.jar")))
    if not spark_cp:
        fail(f"no Spark jars under {jars}")
    cp = [os.path.abspath(out_bench), os.path.abspath(out_prog)] + spark_cp
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return cp
    compiler = [j for j in spark_cp if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    # compile time limits keep a first run, build included, within 15 min
    for out, srcs, extra, limit in ((out_prog, prog, [], 500), (out_bench, bench, [out_prog], 200)):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        cmd = (["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
                "scala.tools.nsc.Main", "-nowarn", "-d", out,
                "-classpath", ":".join(extra + spark_cp)] + srcs)
        log = os.path.join(BUILD, "build.log")
        if run_quiet(cmd, log, limit) != 0:
            fail(f"compile failed:\n{tail(log)}")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(NOT_CALLED))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seed < 0:
        fail("--seed must be non-negative")
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)

    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    work = os.path.abspath(os.path.join(BUILD, "work"))
    outdir = os.path.abspath(os.path.join(BUILD, "out"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(outdir, exist_ok=True)
    out = os.path.join(outdir, f"{a.workload}-{a.seed}" + (".traced" if a.trace else "") + ".json")
    for f in glob.glob(out + "*"):
        os.remove(f)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx2g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", ":".join(cp), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out])
    log = out + ".log"
    code = run_quiet(cmd, log, JAVA_TIMEOUT_S)
    if code != 0:
        fail(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}:\n{tail(log)}")
    with open(out) as fh:
        res = json.load(fh)

    c = res["check"]
    if a.workload == "wrm_cycle":
        problems = (checks.check_ingest(c)
                    + checks.check_views(c, os.path.join(outdir, c["results"])))
    else:
        problems = checks.check_registry(c)
    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    if a.trace:
        for m in spec["per_layer"]:
            v = res["layers"].get(m["name"])
            if v is None:
                if not m["name"].startswith(NOT_CALLED[a.workload]):
                    fail(f"traced run did not report {m['name']}")
                v = 0.0
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": res["metrics"][m["name"]], "unit": m["unit"]}
    print(f"perfbench: {a.workload} seed {a.seed}: passes {res['pass_s']}, "
          f"session {res['session_s']:.2f} s, set-up {res['setup_s']:.2f} s", file=sys.stderr)
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
