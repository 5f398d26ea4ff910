"""Build file of the benchmark: compiles graft's sources together with the
benchmark's own Scala sources, using the Scala compiler that ships with
Spark, into `.bench_build/perfbench/classes` under the checkout.

    python3 perfbench/build.py          # from the root of a checkout

A stamp of the source tree's hash skips the compile when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", HERE / "scala"]


def spark_jars():
    """The directory of Spark's jars: $SPARK_HOME/jars, else next to the
    spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("spark-sql_*.jar")):
        sys.exit("build: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    if not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit("build: no graft sources at src/main/scala; run from a checkout")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def classpath():
    return f"{CLASSES}{os.pathsep}{spark_jars() / '*'}"


def build():
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = OUT / "classes.stamp"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    jars = spark_jars() / "*"
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", str(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(CLASSES), "-classpath", str(jars)]
    cmd += [str(p) for p in srcs]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        sys.exit(f"build: scalac failed with exit code {proc.returncode}")
    stamp.write_text(digest.hexdigest())


if __name__ == "__main__":
    build()
