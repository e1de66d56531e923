"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark driver (repobench/scala) into .bench_build/classes with the
Scala compiler that ships in Spark's jars. Skips the compile when no
source changed since the last build.

    python3 repobench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
PROGRAM = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME's, else those of the first
    spark-submit on the PATH that sits in a full Spark install."""
    homes = [os.environ.get("SPARK_HOME")] + [
        Path(d, "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if Path(d, "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if (jars / "scala-compiler-2.13.17.jar").exists():
            return jars
    raise RuntimeError("no Spark install with a Scala 2.13.17 compiler found: set SPARK_HOME")


def classpath(classes):
    return f"{classes}:{spark_jars()}/*"


def build():
    """Compile if needed; return the classes directory."""
    sources = sorted(PROGRAM.rglob("*.scala"))
    if not sources:
        raise RuntimeError(f"no program sources under {PROGRAM}")
    sources += sorted((HERE / "scala").glob("*.scala"))
    resources = sorted(p for p in RESOURCES.rglob("*") if p.is_file())
    digest = hashlib.sha256()
    for p in sources + resources:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = BUILD / "classes.stamp"
    classes = BUILD / "classes"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    jars = spark_jars()
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-nowarn", "-classpath", f"{jars}/*", "-d", str(classes), *map(str, sources)],
        capture_output=True, text=True, timeout=840)
    if proc.returncode != 0:
        raise RuntimeError("scalac failed:\n" + (proc.stdout + proc.stderr)[-4000:])
    for p in resources:
        dest = classes / p.relative_to(RESOURCES)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dest)
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        sys.exit(f"build failed: {e}")
