"""Build file of the benchmark: compiles the engine (`src/main`) together
with the benchmark's JVM harness (`perfbench/jvm`) against the Spark
distribution's jars, with the Scala compiler those jars ship.

    python3 perfbench/build.py        # from the repository root

Output goes to `.bench_build/` at the root. A content stamp over every
input skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """The jars directory of the Spark distribution: `$SPARK_HOME/jars`,
    else the one bundled with an installed `pyspark`."""
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    except ImportError:
        pass
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources():
    scala = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    scala += sorted(glob.glob(os.path.join(ROOT, "perfbench/jvm/*.scala")))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"), recursive=True)
                 if os.path.isfile(p))
    return scala, res


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    scala, res = sources()
    if not any(p.endswith("PerfBench.scala") for p in scala) or len(scala) < 2:
        raise SystemExit("perfbench: engine sources not found under src/main/scala")
    h = hashlib.sha256()
    for p in scala + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-cp", jars] + scala
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    base = os.path.join(ROOT, "src/main/resources")
    for p in res:
        dst = os.path.join(CLASSES, os.path.relpath(p, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
