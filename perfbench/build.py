#!/usr/bin/env python3
"""Builds the benchmark: compiles the engine sources of the enclosing
repository (src/main/scala) together with the harness (perfbench/src) in
one scalac run, so a benchmark run always measures the engine as checked
out next to it. Then fits the model `tlc_batch` scores with (`Jobs.train`
on a seeded month): in the reference the model is trained once and the
monthly batch job scores with it.

The compiler, the Scala library and the Spark jars all come from the
jars directory the engine's own build compiles against (the
`unmanagedBase` of the repository's build.sbt, else $SPARK_HOME/jars),
so building needs no sbt, no dependency resolution and no state outside
the checkout. Outputs go to .bench_build/perfbench/ in the repository
root; a build is skipped while no source file changed.

    python3 perfbench/build.py      # build now (run.py calls this itself)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
MODEL = os.path.join(OUT, "model")
FIT_TIMEOUT_S = 600
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
COMPILER = ("scala-compiler", "scala-reflect", "scala-library")

# JDK 17 module opens Spark needs outside spark-submit (the engine build's list)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio",
         "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]
# a fixed heap, two GC threads; the driver binds to loopback whatever the host's name resolves to
JVM_OPTIONS = [a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:ParallelGCThreads=2", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1"]


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else shutil.which("java") or "java"


def spark_jars():
    """The jars the engine's build compiles against: the `unmanagedBase`
    directory its build.sbt names, else $SPARK_HOME/jars."""
    dirs = []
    engine_build = os.path.join(ROOT, "build.sbt")
    if os.path.exists(engine_build):
        with open(engine_build) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            dirs.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if jars:
            return jars
    raise BuildError("no Spark jars found in the engine build's unmanagedBase or $SPARK_HOME/jars")


def sources():
    return sorted(os.path.join(d, f) for r in SOURCE_DIRS for d, _, fs in os.walk(r)
                  for f in fs if f.endswith(".scala"))


def main_command(tmp):
    """The command line that starts `graft.perfbench.Main` with its temp
    files, Spark's scratch space and warehouse under `tmp`."""
    cp = os.pathsep.join([CLASSES, RESOURCES] + spark_jars())
    return [java()] + JVM_OPTIONS + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(tmp, 'spark')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "-cp", cp, "graft.perfbench.Main"]


def fit_model():
    """Fits `tlc_batch`'s scoring model into MODEL (seed 0, full size)."""
    tmp = os.path.join(OUT, "tmp", f"fit-{os.getpid()}")
    work = os.path.join(OUT, "work", f"fit-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    shutil.rmtree(MODEL, ignore_errors=True)
    log = os.path.join(OUT, "fit.log")
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(main_command(tmp) + ["--workload", "tlc_batch", "--seed", "0",
                                                      "--dir", work, "--fit-model", MODEL],
                                 cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=FIT_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.isdir(MODEL):
        with open(log) as lf:
            tail = "".join(lf.readlines()[-40:])
        raise BuildError(f"model fit failed ({rc}); log in {log}\n{tail}")


def stamp(files):
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for f in files:
        st = os.stat(f)
        h.update(f"{f}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles and fits the model when any source changed since the last
    build; raises BuildError with the failing step's output."""
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise BuildError("engine sources (src/main/scala) not found next to perfbench/; "
                         "run from a full checkout")
    srcs = sources()
    jars = spark_jars()
    stamp_file = os.path.join(OUT, "build.stamp")
    want = stamp(srcs + jars)
    if os.path.isdir(MODEL) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return
    compiler = [j for j in jars if os.path.basename(j).startswith(COMPILER)]
    if len(compiler) != len(COMPILER):
        raise BuildError("the Spark jars lack scala-compiler, scala-reflect or scala-library")
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    fresh = CLASSES + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        args = ["-nowarn", "-d", fresh, "-classpath", os.pathsep.join(jars)] + srcs
        f.write("\n".join(f'"{a}"' for a in args) + "\n")
    log = os.path.join(OUT, "build.log")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + args_file]
    with open(log, "w") as lf:
        rc = subprocess.call(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as lf:
            tail = "".join(lf.readlines()[-40:])
        raise BuildError(f"scalac exited {rc}; log in {log}\n{tail}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(fresh, CLASSES)
    fit_model()
    with open(stamp_file, "w") as f:
        f.write(want)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(1)
    print(f"built {CLASSES} and {MODEL}")
