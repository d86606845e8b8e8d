#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala), the
in-repo plain-Scala oracles and the benchmark sources (perfbench/src)
with the Scala compiler that ships in the Spark distribution, into
.bench_build/classes. A stamp of every source's content skips the
compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        d = os.path.join(h, "jars")
        if h and os.path.isfile(os.path.join(d, "scala-compiler-2.13.17.jar")):
            return d
    raise SystemExit("perfbench: no Spark jars with a Scala 2.13 compiler "
                     "(set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    oracle = os.path.join(ROOT, "src", "test", "scala", "graft", "oracle",
                          "Oracles.scala")
    if not os.path.isdir(main) or not os.path.isfile(oracle):
        raise SystemExit("perfbench: engine sources not found under src/")
    files = [oracle]
    for top in (main, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names
                      if n.endswith(".scala")]
    return sorted(files)


def classpath(jars):
    return ":".join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                    if j.endswith(".jar"))


def build():
    """Compiles if needed; returns the classpath to run the benchmark."""
    jars = spark_jars()
    cp = classpath(jars)
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes + ":" + cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + OUT,
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-classpath", cp, "-d", classes, "@" + args_file]
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit("perfbench: compile failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes + ":" + cp


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    build()
    print("built", os.path.join(OUT, "classes"), file=sys.stderr)
