"""Build file of perfbench: compiles the engine sources (`src/main/scala`)
and the benchmark harness (`perfbench/src`) with the Scala compiler that
ships among the Spark jars, into the build directory ($CARGO_TARGET_DIR,
else `.bench_build`). A build is reused while no source file changed.

Run directly (`python3 perfbench/build.py`) or through `run.py`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


class BuildError(Exception):
    pass


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars bundled with the pyspark package."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_2.13-*.jar")):
            return c
    raise BuildError("no Spark jars found (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))


def ensure():
    """Builds if needed; returns the runtime classpath."""
    jars = os.path.join(spark_jars(), "*")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    cp = classes + os.pathsep + jars
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    java = ["java", "-XX:-UsePerfData"]
    r = subprocess.run(java + ["-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                               "-d", tmp, "-cp", jars] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    r = subprocess.run(java + ["-cp", tmp + os.pathsep + jars, "perfbench.OracleDump",
                               os.path.join(tmp, "oracle_sql.json")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("oracle dump failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def oracle_sql_path():
    return os.path.join(build_dir(), "classes", "oracle_sql.json")


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
