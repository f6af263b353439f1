"""Run one benchmark workload against the graft engine.

    python3 perfbench/run.py --workload batch_job --seed 1 --seconds 15 --trace 0

Builds the program and the harness from source on first use (see
build.py), then runs the harness JVM (perfbench.Main) in local[nproc].
The harness prints one JSON result as the last line of stdout and exits
non-zero when any run, micro-batch or query fails or fails its output
check. Extra flags (--convs, --files, --queries, --inject, ...) are
passed through to the harness; see perfbench/README.md.
"""

import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

JVM_TIMEOUT_S = 170
# storing fingerprints of the whole sweep takes longer than a timed run
FINGERPRINT_TIMEOUT_S = 1800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def arg_value(args, flag, default):
    return args[args.index(flag) + 1] if flag in args[:-1] else default


def main(args):
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    name = arg_value(args, "--workload", "none")
    work = os.path.join(build.OUT, "work", f"{name}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # class data sharing: the first run of a build archives the classes it
    # loaded, and later runs map them instead of loading them again
    cds = (("-XX:SharedArchiveFile=" if os.path.exists(build.ARCHIVE)
            else "-XX:ArchiveClassesAtExit=") + build.ARCHIVE)
    # ParallelGC as in build.sbt and a fixed heap; JVM warnings go to
    # stderr, stdout carries the result only
    cmd = (["java", "-Xms3g", "-Xmx3g", cds, "-Xlog:disable", "-Xlog:all=warning:stderr",
            "-XX:+UseParallelGC",
            "-Djava.io.tmpdir=" + tmp,
            "-Dderby.system.home=" + work,
            "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties")]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--work", work, "--cores", str(nproc()),
              "--traces", os.path.join(build.OUT, "traces"),
              "--fingerprints", os.path.join(build.HERE, "fingerprints.tsv")]
           + args)
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=FINGERPRINT_TIMEOUT_S
                                  if "--write-fingerprints" in args else JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"[perfbench] harness exceeded {JVM_TIMEOUT_S} s, killed", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if lines and lines[-1].startswith("{"):
        print(lines[-1], flush=True)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
