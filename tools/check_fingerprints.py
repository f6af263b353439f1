#!/usr/bin/env python3
"""Check query outputs against perfbench's stored sweep fingerprints.

    python3 tools/check_fingerprints.py                     # every Query record
    python3 tools/check_fingerprints.py ann_ivf,semdedup    # a given list

Every `Query("name", ...)` record under src/main/scala/graft/queries (the
driver queries and the bench-only ones) is checked by
`perfbench/run.py --workload operator_sweep --queries <chunk>`, which runs
each query and compares its fingerprint with `perfbench/fingerprints.tsv`.
One harness JVM may run for `JVM_TIMEOUT_S` (170 s) only, and the whole
list does not fit in one, so the queries go in chunks of 20 names; a chunk
the harness kills for time is split in two and run again. Prints one line per chunk and exits 1 when any chunk exits non-zero
or reports `correct: false`, naming the queries of each failing chunk and
the harness's error lines.
"""

import argparse
import glob
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")
KILLED = 3  # run.py's exit code when the harness exceeded JVM_TIMEOUT_S
CHUNK = 20


def all_queries():
    names = set()
    for path in glob.glob(os.path.join(ROOT, "src/main/scala/graft/queries/*.scala")):
        with open(path) as f:
            names.update(re.findall(r'\bQuery\("(\w+)"', f.read()))
    return sorted(names)


def run_chunk(chunk):
    """(exit code, correct, error lines) of one harness run over `chunk`."""
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", "operator_sweep", "--seed", "1",
         "--seconds", "1", "--trace", "0", "--queries", ",".join(chunk)],
        cwd=ROOT, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    correct = bool(lines) and lines[-1].startswith("{") and \
        json.loads(lines[-1]).get("correct") is True
    errors = [l for l in proc.stderr.splitlines()
              if re.search(r"FAILED|error|exceeded|failed", l)]
    return proc.returncode, correct, errors


def check(chunk, failed):
    code, correct, errors = run_chunk(chunk)
    if code == KILLED and len(chunk) > 1:
        print(f"killed for time: {len(chunk)} queries, splitting in two", flush=True)
        half = len(chunk) // 2
        check(chunk[:half], failed)
        check(chunk[half:], failed)
        return
    ok = code == 0 and correct
    print(f"{'ok' if ok else 'FAILED'} (exit {code}): {len(chunk)} queries "
          f"{','.join(chunk)}", flush=True)
    if not ok:
        failed.append(chunk)
        for e in errors:
            print("  " + e, flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("queries", nargs="?", help="comma-separated names (default: every Query record)")
    args = ap.parse_args()
    queries = ([q.strip() for q in args.queries.split(",") if q.strip()]
               if args.queries else all_queries())
    failed = []
    for i in range(0, len(queries), CHUNK):
        check(queries[i:i + CHUNK], failed)
    n_bad = sum(len(c) for c in failed)
    print(f"{len(queries)} queries, {len(failed)} failing chunk(s) ({n_bad} queries)")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
