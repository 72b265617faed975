"""Build file of the benchmark: compiles the program and the harness.

The program's `src/main/scala` and `perfbench/harness` are compiled in
one `scalac` pass against the jars of the Spark install (`$SPARK_HOME`,
else the pip-installed `pyspark` package), with the Scala compiler that
ships among those jars, into `<build>/classes-<hash>`, where the hash
covers every source file. A tree that is already built is reused.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def _spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    try:  # a pip-installed pyspark carries the same jars under pyspark/jars
        import pyspark
    except ImportError:
        raise SystemExit("perfbench: set SPARK_HOME or install pyspark")
    return os.path.dirname(pyspark.__file__)


SPARK_JARS = os.path.join(_spark_home(), "jars")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)
                   + glob.glob("perfbench/harness/*.scala"))
    if not any(f.startswith("src/") for f in files):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return files


def classpath(classes):
    return f"{classes}:{SPARK_JARS}/*"


def build():
    """Compile if needed; returns the classes directory."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = f"{classes}.tmp{os.getpid()}"
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-nowarn", "-classpath", f"{SPARK_JARS}/*", "-d", tmp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: scalac failed ({r.returncode})")
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
