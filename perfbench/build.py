"""Build the benchmark harness together with the program it measures.

The harness (perfbench/src) and the repository's main sources
(src/main/scala) are compiled in one plain scalac pass against the Spark
distribution's jars, into <root>/.bench_build/perfbench/classes.jar. A
stamp of every source file's content lets later runs skip the compile.

    python3 perfbench/build.py        # build (or confirm up to date)
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "classes.jar")
STAMP = os.path.join(OUT, "classes.stamp")
# the class-data-sharing archive run.py keeps for this build
ARCHIVE = os.path.join(OUT, "classes.jsa")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    directory next to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def _compiler_cp(jars):
    cp = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(jars, name + "-2.13.*.jar")))
        if not found:
            raise BuildError(f"{name} jar missing from {jars}")
        cp.append(found[-1])
    return os.pathsep.join(cp)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise BuildError("program sources (src/main/scala) not found")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main + bench


def _stamp(files, jars):
    h = hashlib.sha256(_compiler_cp(jars).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if any source changed; return the run classpath."""
    jars = spark_jars()
    files = sources()
    stamp = _stamp(files, jars)
    run_cp = os.pathsep.join([JAR, os.path.join(jars, "*")])
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return run_cp
    for f in (STAMP, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    os.makedirs(OUT, exist_ok=True)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", _compiler_cp(jars),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", JAR, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=log, stderr=log)
    if proc.returncode != 0:
        raise BuildError(f"scalac exited with {proc.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return run_cp


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
