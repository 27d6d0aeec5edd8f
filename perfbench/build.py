"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark harness (perfbench/src) into .bench_build/classes with the
Scala compiler that ships among Spark's jars ($SPARK_HOME/jars). A build
is skipped when no source changed since the last one.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_home():
    return os.environ.get("SPARK_HOME", "")


def spark_jars():
    home = spark_home()
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not any("scala-compiler" in os.path.basename(j) for j in jars):
        raise SystemExit("perfbench: SPARK_HOME must name a Spark install "
                         "whose jars/ holds scala-compiler")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise SystemExit("perfbench: engine sources not found under "
                         "src/main/scala; run from a checkout of the repository")
    found = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            found += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(found)


def build():
    """Return the classes directory, compiling first if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    out = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == digest:
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", tmp, "-classpath", ":".join(jars)] + srcs))
    log = os.path.join(BUILD, "build.log")
    jtmp = os.path.join(BUILD, "tmp")
    os.makedirs(jtmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + jtmp,
           "-cp", os.path.join(spark_home(), "jars", "*"),
           "scala.tools.nsc.Main", "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit("perfbench: compilation failed (%s)" % log)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as f:
        f.write(digest)
    return out


if __name__ == "__main__":
    print(build())
