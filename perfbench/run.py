#!/usr/bin/env python3
"""Build adhesivespark from source and run one benchmark workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload udf_scan --seed 1 --seconds 10 --trace 0

Workloads: udf_scan, ddl_churn, catalog. Extra flags:
--size tiny (small inputs, for the self-tests), --record-digests FILE and
--dump DIR (catalogue workloads only; see perfbench/README.md).

The program and the benchmark are compiled with the Scala compiler and
javac, against the Spark jars build.sbt names (or $SPARK_HOME/jars), into
.bench_build/ (reused while the sources are unchanged).
Each run gets its own scratch directory under .bench_build/ for
java.io.tmpdir, spark.local.dir and the generated tables; it is deleted
when the run ends. The last line of standard output is one JSON object.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("udf_scan", "ddl_churn", "catalog")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources(top, exts):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(exts)]
    return sorted(out)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("perfbench: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def compile_scala(srcs, classpath, dest):
    os.makedirs(dest, exist_ok=True)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
         "scala.tools.nsc.Main", "-encoding", "UTF-8", "-nowarn",
         "-classpath", classpath, "-d", dest, "@" + argfile],
        check=True, stdout=sys.stderr)


def build():
    """Compiles src/main (Scala, then Java) and perfbench/scala; returns
    the runtime classpath. Skips the work when the sources are unchanged."""
    main = os.path.join(ROOT, "src", "main")
    prog_scala = sources(os.path.join(main, "scala"), (".scala",))
    prog_java = sources(os.path.join(main, "java"), (".java",))
    bench = sources(os.path.join(HERE, "scala"), (".scala",))
    if not prog_scala or not bench:
        sys.exit("perfbench: no program sources under src/main/scala; "
                 "run from the root of an adhesivespark checkout")
    h = hashlib.sha256()
    for p in prog_scala + prog_java + bench:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    prog_out = os.path.join(BUILD, "classes")
    bench_out = os.path.join(BUILD, "bench-classes")
    jars = os.path.join(spark_jars(), "*")
    cp = os.pathsep.join([bench_out, prog_out, jars])
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    t0 = time.time()
    for d in (prog_out, bench_out):
        shutil.rmtree(d, ignore_errors=True)
    compile_scala(prog_scala + prog_java, jars, prog_out)
    if prog_java:
        subprocess.run(["javac", "-J-XX:-UsePerfData", "-encoding", "UTF-8", "-nowarn", "-d", prog_out,
                        "-cp", os.pathsep.join([prog_out, jars])] + prog_java,
                       check=True, stdout=sys.stderr)
    compile_scala(bench, os.pathsep.join([prog_out, jars]), bench_out)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--record-digests")
    ap.add_argument("--dump")
    a = ap.parse_args()

    cp = build()
    scratch = os.path.join(BUILD, f"run-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss4m", f"-Djava.io.tmpdir={scratch}/tmp",
            "-Dspark.sql.session.timeZone=UTC", f"-Dderby.system.home={scratch}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "perfbench.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--size", a.size, "--scratch", scratch,
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--out", os.path.join(BUILD, "traces")])
    for flag, val in (("--record-digests", a.record_digests), ("--dump", a.dump)):
        if val:
            cmd += [flag, os.path.abspath(val)]
    proc = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop():
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    # SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    timer = threading.Timer(RUN_TIMEOUT_S, stop)
    timer.daemon = True
    try:
        timer.start()
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        rc = proc.wait()
    finally:
        timer.cancel()
        stop()
        shutil.rmtree(scratch, ignore_errors=True)
    if rc != 0:
        print(f"perfbench: {a.workload} exited with code {rc}", file=sys.stderr)
    sys.exit(rc)


if __name__ == "__main__":
    main()
