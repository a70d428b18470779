"""Build file of the benchmark package.

Compiles the program (``src/main/scala``) together with the benchmark
driver (``perfbench/src``) with the Scala compiler that ships in the Spark
distribution, into ``.bench_build/classes-<source hash>``. A build whose
sources are unchanged is reused.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The jars of the Spark distribution to build and run against:
    $SPARK_HOME's, else those of the first spark-submit on PATH whose
    distribution ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("no Spark distribution with a Scala compiler: set SPARK_HOME")


def sources(root):
    """Every Scala source of the program and of the benchmark driver."""
    found = []
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def build(root, work):
    """Compile if needed; return the classes directory."""
    srcs = sources(root)
    if not any(s.endswith(os.path.join("graft", "SparkEntry.scala")) for s in srcs):
        raise SystemExit(f"no program sources under {root}/src/main")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(work, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    for old in glob.glob(os.path.join(work, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(work, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"compile failed ({proc.returncode})")
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    root = os.getcwd()
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    print(build(root, work))
