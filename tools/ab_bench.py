"""A/B benchmark: alternate runs of a base revision and the working tree.

    python3 tools/ab_bench.py --base HEAD~1 --workload stream_backlog --pairs 10

Materializes both sides as sibling directories under one temporary parent
in $TMPDIR: `base/` holds the files of <rev> (`git archive`), `change/` a
snapshot of the working tree (every tracked or untracked, not ignored file,
uncommitted edits included). Neither copy has a .git, so a killed run leaves
nothing registered in this repository, and each side builds its own
.bench_build and class-data-sharing archive from the same empty start. It
then runs BENCHMARK.json's command with `--workload W --seed i --seconds
<run_seconds> --trace 0` in both trees for seeds first-seed ..
first-seed+pairs-1. The side that goes first swaps on every pair, so load
drifts on a shared host fall on both sides alike. Extra arguments
(--convs, --files, ...) are passed through to run.py.

For each end-to-end metric of BENCHMARK.json it prints the base median
[q1, q3], the change median [q1, q3], the relative change of the medians
and the pairs the change won (strictly better, by the metric's "better"
direction). Exits 1 if any run exits non-zero or reports correct: false;
the temporary trees are removed either way.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class RunError(Exception):
    pass


def extract(rev, dest):
    """Write the files of commit `rev` into `dest`; returns its full hash."""
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify", rev + "^{commit}"],
                         check=True, capture_output=True, text=True).stdout.strip()
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", "--format=tar", sha],
                               stdout=subprocess.PIPE)
    untar = subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout)
    archive.stdout.close()
    if archive.wait() != 0 or untar.returncode != 0:
        raise RunError(f"could not extract {rev}")
    return sha


def snapshot(dest):
    """Copy the working tree's tracked and untracked, not ignored files to `dest`."""
    files = subprocess.run(["git", "-C", ROOT, "ls-files", "-z", "-co", "--exclude-standard"],
                           check=True, capture_output=True).stdout.split(b"\0")
    for rel in filter(None, (f.decode() for f in files)):
        src = os.path.join(ROOT, rel)
        if os.path.isfile(src):  # a deleted, not yet staged file is still listed
            os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))


def run_once(bench, tree, workload, seed, extra):
    """One benchmark run in `tree`; returns its metrics as name -> value."""
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"] + extra
    # own process group: an interrupted comparison stops run.py's JVM too
    proc = subprocess.Popen(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, err = proc.communicate()
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    lines = out.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if proc.returncode != 0 or result is None or not result.get("correct"):
        tail = "\n".join(err.strip().splitlines()[-20:])
        raise RunError(f"{tree} seed {seed}: exit {proc.returncode}, "
                       f"correct={result and result.get('correct')}\n{tail}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def spread(values):
    """(median, q1, q3) of `values`."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return med, q1, q3


def report(metrics, base, change):
    rows = [("metric", "base median [q1, q3]", "change median [q1, q3]", "Δ median", "won")]
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(b[name], c[name]) for b, c in zip(base, change) if name in b and name in c]
        if not pairs:
            continue
        bs, cs = [b for b, _ in pairs], [c for _, c in pairs]
        (bm, bq1, bq3), (cm, cq1, cq3) = spread(bs), spread(cs)
        won = sum(1 for b, c in pairs if (c < b if lower else c > b))
        delta = f"{(cm / bm - 1) * 100:+.1f}%" if bm else "n/a"
        rows.append((name, f"{bm:.4g} [{bq1:.4g}, {bq3:.4g}]",
                     f"{cm:.4g} [{cq1:.4g}, {cq3:.4g}]", delta, f"{won}/{len(pairs)}"))
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    for r in rows:
        print("  ".join(cell.ljust(w) for cell, w in zip(r, widths)).rstrip())


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args, extra = ap.parse_known_args(argv)
    # SIGTERM unwinds like Ctrl-C, so the temporary tree is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]

    tmp = tempfile.mkdtemp(prefix="ab_bench-")
    base_tree, change_tree = os.path.join(tmp, "base"), os.path.join(tmp, "change")
    base, change = [], []
    try:
        os.makedirs(base_tree)
        os.makedirs(change_tree)
        sha = extract(args.base, base_tree)
        snapshot(change_tree)
        print(f"[ab_bench] base {sha[:12]} in {base_tree}; "
              f"change = working tree {ROOT} copied to {change_tree}", file=sys.stderr)
        for i in range(args.pairs):
            seed = args.first_seed + i
            sides = [("base", base_tree, base), ("change", change_tree, change)]
            if i % 2:
                sides.reverse()
            got = {}
            for label, tree, out in sides:
                got[label] = run_once(bench, tree, args.workload, seed, extra)
                out.append(got[label])
            print(f"[ab_bench] pair {i + 1}/{args.pairs} seed {seed} ({sides[0][0]} first): "
                  + ", ".join(f"{m['name']} {got['base'].get(m['name'], float('nan')):.4g}"
                              f" -> {got['change'].get(m['name'], float('nan')):.4g}"
                              for m in metrics), file=sys.stderr, flush=True)
    except (RunError, subprocess.CalledProcessError) as e:
        print(f"[ab_bench] FAILED: {e}", file=sys.stderr)
        if base and change:
            report(metrics, base[:len(change)], change[:len(base)])
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"workload {args.workload}, {args.pairs} pairs, base {args.base}")
    report(metrics, base, change)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
