#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload hot --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the program (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships in the
Spark distribution and packs them into one jar. Everything built or
written goes under
.bench_build/perfbench/ in the checkout; a run's scratch directory is
removed when it ends. The last line of standard output is the result
object; the lines before it list operations per phase and every metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("hot", "longtail")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# JDK 17 module openings Spark needs outside spark-submit (the list in
# build.sbt), the program's GC choice, and a heap that leaves room on a
# shared 4-core box.
JAVA_OPTS = [
    "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
    "-Xlog:disable", "-Xlog:all=error:stderr",
    "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jars of $SPARK_HOME, or else of the first spark-submit on the
    PATH whose distribution ships a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for p in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(p, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        d = os.path.join(home, "jars")
        jars = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar")) if os.path.isdir(d) else []
        if any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
            return jars
    fail("no Spark distribution with a Scala compiler (set SPARK_HOME)")


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            found += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    found.sort()
    if not any(f.startswith(os.path.join(ROOT, "src", "main", "scala")) for f in found):
        fail(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    return found


def build(jars):
    """Returns bench.jar, building it when the sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + [os.path.join(HERE, "log4j2.properties")]:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    key = h.hexdigest()[:16]
    d = os.path.join(OUT, "build-" + key)
    jar = os.path.join(d, "bench.jar")
    if os.path.exists(jar):
        return jar
    if os.path.isdir(OUT):
        for old in os.listdir(OUT):
            if old.startswith("build-"):
                shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    classes = os.path.join(d, "classes")
    os.makedirs(classes)
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    cp = ":".join(jars)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", classes] + srcs,
                       stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("compilation failed", 1)
    # written under another name and renamed, so that a jar that exists is whole
    part = jar + ".part"
    with zipfile.ZipFile(part, "w", zipfile.ZIP_DEFLATED) as z:
        for base, _, fs in os.walk(classes):
            for f in sorted(fs):
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    os.replace(part, jar)
    return jar


def java_cmd(jar, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + JAVA_OPTS + ["-Djava.io.tmpdir=" + tmp,
            "-cp", ":".join([jar] + spark_jars()), "graft.perfbench.Main", "--work", work])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not 1 <= a.seconds <= 600:
        fail("--seconds must be within 1..600")
    jar = build(spark_jars())
    work = os.path.join(OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spans = os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.spans.jsonl")
    cmd = java_cmd(jar, work) + ["--workload", a.workload, "--seed", str(a.seed),
                                     "--seconds", str(a.seconds), "--trace", str(a.trace), "--spans", spans]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"benchmark exited with {p.returncode}", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 1)
    print("\n".join(lines[:-1]))
    if a.trace:
        print(f"spans: {os.path.relpath(spans, ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
