"""Build the benchmark: compile the library sources (src/main/scala) and
the benchmark's own sources (layerbench/scala) with the Scala compiler
that ships in the Spark distribution, into <build dir>/classes.

The build is skipped when a stamp of every source file's path and bytes
matches the last successful build. Run directly to build:

    python3 layerbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Spark 4.x on JDK 17 needs these when a session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JAVA_OPTS = [o for p in ADD_OPENS for o in ("--add-opens", p + "=ALL-UNNAMED")]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit(f"layerbench: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not lib:
        sys.exit("layerbench: no library sources under src/main/scala; run from a checkout of the repo")
    own = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return lib + own


def ensure():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    out = os.path.join(build_dir(), "classes")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(build_dir(), "classes.stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        argfile = os.path.join(build_dir(), "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
             "-usejavacp", "-nowarn", "-d", out, "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr, cwd=build_dir())
        if r.returncode != 0:
            sys.exit(f"layerbench: compilation failed ({r.returncode})")
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
    return out + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    print(ensure())
