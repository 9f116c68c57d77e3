#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/harness) with the Scala compiler that
ships with the Spark jars the program's build.sbt compiles against (its
unmanagedBase, or $SPARK_HOME/jars). Output goes to .bench_build/ in the
checkout; a build whose sources have not changed is reused.

Usage: python3 perfbench/build.py   (from the root of a checkout)
Prints the runtime classpath on its last line.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names (unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"build: no Spark jars with a Scala compiler at '{jars}' (set SPARK_HOME)")
    return jars


def sources(root):
    out = []
    for dirpath, _, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_tree(name, srcs, classpath, jars):
    """Compile `srcs` into BUILD_DIR/<name>.jar; returns the jar."""
    out = os.path.join(BUILD_DIR, name)
    jar = os.path.join(BUILD_DIR, name + ".jar")
    stamp = os.path.join(out, "STAMP")
    key = digest(srcs) + classpath
    if os.path.exists(stamp) and os.path.exists(jar) and open(stamp).read() == key:
        return jar
    classes = os.path.join(out, "classes")
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-Ybackend-parallelism", "4", "-d", classes]
    if classpath:
        cmd += ["-cp", classpath]
    r = subprocess.run(cmd + ["@" + argfile])
    if r.returncode != 0:
        sys.exit(f"build: compiling {name} failed")
    subprocess.run(["jar", "cf", jar, "-C", classes, "."], check=True)
    with open(stamp, "w") as f:
        f.write(key)
    return jar


def java_cmd(classpath, extra=()):
    """The JVM command line every harness run uses (module opens as the
    program's build.sbt sets them for Spark on JDK 17)."""
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    return (["java", "-Xmx3g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + list(extra)
            + [x for m in opens for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
            + ["-cp", classpath, "graft.perfbench.Main"])


def cds_archive(classpath):
    """Class-data-sharing archive of the classes a session loads, so each
    run's JVM maps them instead of re-reading ~300 jars."""
    archive = os.path.join(BUILD_DIR, "classes.jsa")
    stamp = archive + ".stamp"
    key = "".join(f"{p}:{os.path.getmtime(p)}" for p in classpath.split(os.pathsep)[:2])
    if os.path.exists(archive) and os.path.exists(stamp) and open(stamp).read() == key:
        return archive
    work = os.path.abspath(os.path.join(BUILD_DIR, "cds-train"))
    subprocess.run(["rm", "-rf", work, archive], check=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(classpath, [f"-XX:ArchiveClassesAtExit={archive}", f"-Djava.io.tmpdir={work}/tmp"])
    r = subprocess.run(cmd + ["--workload", "warm", "--inputs", work, "--work", work, "--seconds", "1",
                              "--trace", "0", "--cores", "2", "--out", os.path.join(work, "out.json")],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       env=dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/tmp"))
    subprocess.run(["rm", "-rf", work], check=True)
    if r.returncode != 0 or not os.path.exists(archive):
        return None  # runs still work without it, only slower to start
    with open(stamp, "w") as f:
        f.write(key)
    return archive


def build():
    if not (os.path.isdir("src/main/scala") and os.path.isfile("build.sbt")):
        sys.exit("build: run from the root of a graft checkout (src/main/scala and build.sbt not found)")
    jars = spark_jars()
    program = compile_tree("program", sources("src/main/scala"), "", jars)
    here = os.path.dirname(os.path.abspath(__file__))
    harness = compile_tree("harness", sources(os.path.join(here, "harness")), program, jars)
    classpath = os.pathsep.join([harness, program, os.path.join(jars, "*")])
    return classpath, cds_archive(classpath)


if __name__ == "__main__":
    print(build()[0])
