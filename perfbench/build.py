"""Build file of the benchmark package: compiles the engine's main sources
and the benchmark's own Scala sources (perfbench/scala) into one classes
directory under .bench_build/, keyed by a hash of every source file, with
the Scala compiler that ships in the Spark distribution. No dependency
resolution, nothing written outside the checkout.

    python3 perfbench/build.py      # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
COMPILE_TIMEOUT_S = 600

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# build.sbt's javaOptions).
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """The Spark jars directory: the one build.sbt compiles against
    (`unmanagedBase`), else $SPARK_HOME/jars."""
    jars = None
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
            jars = m.group(1) if m else None
    except OSError:
        pass
    if jars is None and os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark distribution with a Scala compiler at {jars}")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: engine sources not found at {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    return files + sorted(glob.glob(os.path.join(BENCH, "scala", "*.scala")))


def build():
    """Returns (classes directory, source hash), compiling when stale."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(OUT, f"classes-{stamp}")
    if os.path.isdir(classes):
        return classes, stamp
    os.makedirs(OUT, exist_ok=True)
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, *files],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=COMPILE_TIMEOUT_S)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    os.rename(tmp, classes)
    return classes, stamp


if __name__ == "__main__":
    print(build()[0])
