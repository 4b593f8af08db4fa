#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload dashboard|ingest --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program from
src/main/scala and the harness from perfbench/src with the Scala compiler
that ships in Spark's jars (into .bench_build/perfbench/, reused while no
source changes). Each run gets a fresh work directory for its stores,
Spark scratch space and result file.

Prints the named figures of the workload, one per line, then as the last
line one JSON object: {"correct", "attempted", "failed", "metrics"}. The
metrics are the end-to-end ones with --trace 0 and the per-layer ones with
--trace 1 (see perfbench/README.md).
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402

WORKLOADS = ("dashboard", "ingest")


def spark_jars():
    """Spark's jars, which hold the Scala compiler too: $SPARK_HOME/jars, else
    the directory the repository's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "build.sbt")) as f:
            return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
    except (OSError, AttributeError):
        return ""


SPARK_JARS = spark_jars()
BUILD = os.path.join(".bench_build", "perfbench")
RUN_LIMIT_S = 170
CORES = "4"
HEAP = "2g"
# no hsperfdata file in the system temp directory: runs write only under .bench_build
JVM_FLAGS = ["-XX:-UsePerfData"]
# what spark-submit passes on JDK 17 (launcher.JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(files, out, classpath):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    subprocess.run(["java", *JVM_FLAGS, "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
                    "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath,
                    "@" + argfile], check=True, stdout=sys.stderr)


def build():
    """Compiles program and harness unless this exact source set is built."""
    prog, bench = sources(os.path.join("src", "main", "scala")), sources(os.path.join("perfbench", "src"))
    if not prog or not bench:
        fail("no program sources under src/main/scala (run from the repository root)")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    h = hashlib.sha256()
    for p in prog + bench + sorted(os.listdir(SPARK_JARS)):
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.abspath(os.path.join(BUILD, "classes-" + h.hexdigest()[:16]))
    if os.path.exists(os.path.join(out, "done")):
        return out, False
    if os.path.isdir(BUILD):
        for d in os.listdir(BUILD):
            if d.startswith("classes-"):
                shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    jars = os.path.join(SPARK_JARS, "*")
    try:
        scalac(prog, os.path.join(out, "main"), jars)
        scalac(bench, os.path.join(out, "bench"), jars + os.pathsep + os.path.join(out, "main"))
    except subprocess.CalledProcessError:
        shutil.rmtree(out, ignore_errors=True)
        fail("build failed")
    open(os.path.join(out, "done"), "w").close()
    return out, True


def run_jvm(classes, args, deadline):
    work = os.path.abspath(os.path.join(BUILD, "run"))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "stores"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    cp = os.pathsep.join([os.path.join(SPARK_JARS, "*"), os.path.join(classes, "main"),
                          os.path.join(classes, "bench")])
    cmd = ["java", *JVM_FLAGS, f"-Xmx{HEAP}", *ADD_OPENS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-cp", cp, "graft.api.perfbench.PerfBench",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--dir", os.path.join(work, "stores"), "--out", out]
    env = dict(os.environ, SPARK_GRAFT_CPUS=CORES, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            fail(f"run exceeded its time limit; log in {work}/jvm.log")
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with code {code}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    classes, built = build()
    # a run that had to build may take longer (up to 900 s in all)
    r = run_jvm(classes, args, start + (880 if built else RUN_LIMIT_S))

    attempted, failed = metrics.counts(r)
    for name, (v, unit) in metrics.details(r).items():
        print(f"{args.workload} {name} {v:.6g} {unit}" if v is not None else f"{args.workload} {name} - {unit}")
    for e in r["check_errors"] + sorted({o["error"] for o in r["ops"] if not o["ok"]}):
        print(f"{args.workload} check_failed {e}")
    chosen = metrics.per_layer(r) if args.trace else metrics.end_to_end(r)
    if args.trace:
        for name, (v, unit) in chosen.items():
            print(f"{args.workload} {name} {v:.6g} {unit}")
    missing = [k for k, (v, _) in chosen.items() if v is None]
    if missing:
        fail(f"no samples for {', '.join(missing)}")
    print(metrics.result_line(failed == 0, attempted, failed, chosen))


if __name__ == "__main__":
    main()
