"""Build file of the benchmark package.

Compiles the program (``src/main``) and the benchmark's own JVM harness
(``benchmark/jvm``) with the Scala compiler that ships in the Spark
distribution, outside sbt, into ``.bench_build/``. A build is reused while
the sources hash to the same stamp.

    python3 benchmark/build.py          # build if stale, print classpath
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def _spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark distribution
    whose spark-submit is on the PATH (pip's pyspark scripts have none)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d or ".") / "spark-submit"
        if submit.is_file():
            jars = submit.resolve().parent.parent / "jars"
            if jars.is_dir():
                return jars
    return Path("jars")


SPARK_JARS = _spark_jars()
PROGRAM_SRC = ROOT / "src" / "main"
HARNESS_SRC = ROOT / "benchmark" / "jvm"

ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def _sources(root):
    return sorted(p for p in root.rglob("*")
                  if p.suffix in (".scala", ".java") and p.is_file())


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _scalac(files, out, classpath):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m",
           "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main", "-usejavacp",
           "-nowarn", "-d", str(out)]
    if classpath:
        cmd += ["-classpath", classpath]
    subprocess.run(cmd + [str(f) for f in files], check=True, cwd=ROOT,
                   stdout=sys.stderr)
    # scalac only type-checks Java sources; javac emits their classes
    java = [str(f) for f in files if f.suffix == ".java"]
    if java:
        cp = f"{SPARK_JARS}/*:{out}" + (f":{classpath}" if classpath else "")
        subprocess.run(["javac", "-nowarn", "-d", str(out), "-cp", cp] + java,
                       check=True, cwd=ROOT, stdout=sys.stderr)


def build():
    """Compile what is stale; return the runtime classpath."""
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"program sources not found under {PROGRAM_SRC}")
    if not SPARK_JARS.is_dir():
        raise SystemExit(f"Spark jars not found under {SPARK_JARS}")
    program, harness = BUILD / "classes", BUILD / "bench-classes"
    p_files = _sources(PROGRAM_SRC)
    h_files = _sources(HARNESS_SRC)
    p_stamp = _stamp(p_files)
    h_stamp = _stamp(p_files + h_files)
    p_mark, h_mark = BUILD / "classes.stamp", BUILD / "bench-classes.stamp"
    BUILD.mkdir(exist_ok=True)
    if not p_mark.exists() or p_mark.read_text() != p_stamp:
        _scalac(p_files, program, None)
        p_mark.write_text(p_stamp)
    if not h_mark.exists() or h_mark.read_text() != h_stamp:
        _scalac(h_files, harness, str(program))
        h_mark.write_text(h_stamp)
    return f"{SPARK_JARS}/*:{program}:{harness}"


if __name__ == "__main__":
    print(build())
