"""Build file of the benchmark package.

Compiles the engine sources (``src/main/scala`` of the checkout) together
with the benchmark sources (``perfbench/src``) into one class directory,
with the Scala compiler that ships in the Spark distribution's ``jars``
directory. Output is cached under ``.bench_build/perfbench`` by a hash of
every source file, so a checkout is compiled once.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME (no spark-submit on PATH)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no scala-compiler jar in {jars}")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "*.scala")))
    return engine + bench


def build():
    """Compile if needed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    dest = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(dest, ".done")):
        return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-8000:])
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    open(os.path.join(dest, ".done"), "w").close()
    return dest


if __name__ == "__main__":
    print(build())
