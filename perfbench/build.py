"""Build file of the benchmark.

Compiles the program's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
in Spark's jar directory, into .bench_build/classes of the current
checkout. A stamp over every source file and the jar list skips the
compile when nothing changed. Nothing is written outside the checkout.

    python3 perfbench/build.py        # build, print the classes dir
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("SPARK_HOME is unset and spark-submit is not on PATH")
        home = str(pathlib.Path(os.path.realpath(submit)).parent.parent)
    jars = pathlib.Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar under {jars}")
    return jars


def sources():
    program = sorted(PROGRAM_SRC.rglob("*.scala"))
    bench = sorted(BENCH_SRC.rglob("*.scala"))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    return program + bench


def classpath(classes):
    return f"{classes}{os.pathsep}{spark_jars() / '*'}"


def build():
    """Compile when a source changed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    stamp_file = BUILD / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={BUILD}",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", str(jars / "*"), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
