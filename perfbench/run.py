#!/usr/bin/env python3
"""Runs one perfbench workload and prints its metrics.

    python3 perfbench/run.py --workload pretrain_curate --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library from
src/main/scala and the benchmark from perfbench/scala with scalac (no sbt),
into .bench_build/; later runs reuse the classes while the sources are
unchanged. Inputs are generated from the seed into .bench_build/data/ and
reused per (workload, seed); generation is outside every metric. The last
line of stdout is one JSON object: correct, attempted, failed, metrics.
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
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

BUILD = ".bench_build"
KEEP_DATASETS = 12
JVM_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark/Scala jars directory: $SPARK_HOME/jars, else the one the
    sbt build compiles against (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open("build.sbt") as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            fail("no build.sbt with unmanagedBase in %s: run from the repository root" % os.getcwd())
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no scala-compiler jar under %s (set SPARK_HOME)" % jars)
    return jars


def tree_hash(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(jars, sources, classpath, out):
    """Compiles `sources` into `out` (built aside, then renamed into place)."""
    if os.path.isdir(out):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    listing = tmp + ".sources"
    with open(listing, "w") as f:
        f.write("\n".join(sources))
    compiler = ":".join(glob.glob(os.path.join(jars, n))[0] for n in
                        ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
           "-usejavacp", "-cp", classpath, "-d", tmp, "@" + listing]
    r = subprocess.run(cmd, capture_output=True, text=True)
    os.remove(listing)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("scalac failed:\n" + r.stdout[-4000:] + r.stderr[-4000:])
    os.rename(tmp, out)


def build(jars):
    lib_src = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not lib_src:
        fail("no src/main/scala under %s: run from the repository root" % os.getcwd())
    bench_src = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    lib = os.path.abspath(os.path.join(BUILD, "lib-" + tree_hash(lib_src)))
    scalac(jars, lib_src, os.path.join(jars, "*"), lib)
    bench = os.path.abspath(os.path.join(BUILD, "bench-" + tree_hash(bench_src, lib)))
    scalac(jars, bench_src, lib + ":" + os.path.join(jars, "*"), bench)
    for old in glob.glob(os.path.join(BUILD, "lib-*")) + glob.glob(os.path.join(BUILD, "bench-*")):
        if os.path.abspath(old) not in (lib, bench):
            shutil.rmtree(old, ignore_errors=True)
    return [lib, bench, os.path.join(jars, "*")]


def dataset(workload, seed):
    root = os.path.join(BUILD, "data")
    out = os.path.abspath(os.path.join(root, "%s-s%d" % (workload, seed)))
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        os.rename(tmp, out)
        old = sorted((d for d in glob.glob(os.path.join(root, "*")) if not d.endswith(".tmp")),
                     key=os.path.getmtime)
        for d in old[:-KEEP_DATASETS]:
            shutil.rmtree(d, ignore_errors=True)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    cp = build(jars)
    data = dataset(a.workload, a.seed)
    scratch = os.path.abspath(os.path.join(BUILD, "run"))
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=256m", "-Dsun.net.httpserver.nodelay=true",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.local.dir=" + os.path.join(scratch, "tmp"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(scratch, "warehouse"),
            "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(scratch, "tmp"),
            "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
            "-Dderby.system.home=" + scratch]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", ":".join(cp), "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--scratch", scratch])
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    log_path = os.path.join(BUILD, "last-run.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env)
        watchdog = threading.Timer(JVM_TIMEOUT_S, p.kill)
        watchdog.start()
        lines = []
        try:
            for line in p.stdout:
                lines.append(line.rstrip("\n"))
                if not line.startswith("{"):
                    print(line, end="", flush=True)
            p.wait()
        finally:
            watchdog.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    result = next((ln for ln in reversed(lines) if ln.startswith("{")), None)
    if p.returncode != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("benchmark JVM exited with code %s" % p.returncode)
    json.loads(result)
    print(result, flush=True)


if __name__ == "__main__":
    main()
