#!/usr/bin/env python3
"""Build the benchmark: compile the program's sources (src/main/scala)
together with the benchmark's own (perfbench/scala) into one jar, and
stage the registry's input tables next to it, so that a run reads only
inside the checkout.

The Scala compiler and the Spark jars are the ones the project builds
against (the `unmanagedBase` of build.sbt). The build ends with one
training run (`perfbench.Main train`). It builds the dashboard warehouse
that `star_reads` reads (with `Pipeline.runDailyCat`, kept as
`.bench_build/dash-wh`), and the JVM dumps the classes it loaded into a
class-data-sharing archive; every run maps that archive instead of
loading and verifying the same ~20k classes again, which takes about 7 s
off each run's JVM start. The build is skipped when neither the sources
nor this file have changed since the last one.

Usage: python3 perfbench/build.py        (prints the run classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir():
    return os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The jar directory build.sbt compiles and runs against."""
    sbt = open(os.path.join(ROOT, "build.sbt")).read()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def source_sf_dir():
    """The scale-factor directory graft.Bench reads by default."""
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        return env
    bench = open(os.path.join(ROOT, "src/main/scala/graft/Bench.scala")).read()
    m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', bench)
    if not m:
        raise SystemExit("graft.Bench names no default SF directory")
    return m.group(1)


def sources():
    out = []
    for top in ("src/main/scala", "perfbench/scala"):
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def jvm_args(classpath):
    """JVM options every run (and the training run) uses."""
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    args = []
    for p in opens:
        args += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed heap size: refresh times spread less from run to run with it
    # (op_s.p50 over five seeds: spread 0.19 with the heap grown on demand,
    # 0.08 with it fixed)
    return args + ["-Xms3g", "-Xmx3g", "-Xss4m", "-cp", classpath]


def ensure():
    """Build if needed; return (run classpath, CDS archive, staged SF dir,
    dashboard warehouse)."""
    bdir = build_dir()
    classes = os.path.join(bdir, "classes")
    app_jar = os.path.join(bdir, "perfbench.jar")
    archive = os.path.join(bdir, "perfbench.jsa")
    dash = os.path.join(bdir, "dash-wh")
    jars = spark_jars()
    # CDS needs every classpath entry to be a jar, listed explicitly
    classpath = os.pathsep.join([app_jar] + sorted(
        os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar")))
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    h.update(open(os.path.abspath(__file__), "rb").read())  # JVM options, steps
    stamp = os.path.join(bdir, "classes.stamp")
    digest = h.hexdigest()
    sf = stage_inputs(bdir)
    if not (os.path.exists(stamp) and open(stamp).read() == digest and
            os.path.isdir(dash)):
        if os.path.exists(stamp):
            os.remove(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        jar_glob = os.path.join(jars, "*")
        run(["java", "-Xss8m", "-Xmx3g", "-cp", jar_glob, "scala.tools.nsc.Main",
             "-nowarn", "-d", classes, "-cp", jar_glob] + srcs, "compilation")
        run(["jar", "cf", app_jar, "-C", classes, "."], "jar")
        train = os.path.join(bdir, "train")
        shutil.rmtree(train, ignore_errors=True)
        os.makedirs(os.path.join(train, "tmp"))
        if os.path.exists(archive):
            os.remove(archive)
        shutil.rmtree(dash, ignore_errors=True)
        try:
            run(["java", f"-XX:ArchiveClassesAtExit={archive}",
                 f"-Djava.io.tmpdir={os.path.join(train, 'tmp')}"] +
                jvm_args(classpath) + ["perfbench.Main", "train", "0", "0", "0",
                                       train, sf], "training run", cwd=train)
            os.rename(os.path.join(train, "dash-wh"), dash)
        finally:
            shutil.rmtree(train, ignore_errors=True)
        if not os.path.exists(archive):
            raise SystemExit("the training run left no class-data archive")
        with open(stamp, "w") as f:
            f.write(digest)
    return classpath, archive, sf, dash


def run(cmd, what, cwd=None):
    r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"{what} failed")


def stage_inputs(bdir):
    """Copy the registry's input tables into the build directory once."""
    sf_src = source_sf_dir()
    sf = os.path.join(bdir, "data", os.path.basename(sf_src.rstrip("/")))
    if not os.path.isdir(sf):
        if not os.path.isdir(sf_src):
            raise SystemExit(f"no input tables at {sf_src}")
        shutil.rmtree(sf + ".part", ignore_errors=True)
        shutil.copytree(sf_src, sf + ".part")
        os.rename(sf + ".part", sf)
    return sf


if __name__ == "__main__":
    print(ensure()[0])
