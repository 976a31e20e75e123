#!/usr/bin/env python3
"""Paired benchmark runs: a parent revision against this checkout.

Run from anywhere inside a graft checkout:

    python3 tools/bench_pairs.py --parent HEAD~1 --workload serve_mutate \
        --pairs 10 --seed 1 --seconds 12 --scratch /tmp/graft-pairs

The parent revision is exported with `git archive` into the scratch
directory (the change side is this working tree, or `--change REV`
exported the same way). Both trees run `sbt compile` first: the harness
classpath includes each tree's `target/scala-2.13/classes`, so a tree
whose classes predate its sources would measure stale code. Pair i runs
`perfbench/run.py` with seed `--seed + i` in both trees, parent first in
even pairs and change first in odd ones, so a drift in host speed does not
favour one side. For each workload and each end-to-end metric of
BENCHMARK.json the report gives both sides' median and quartiles, the
change's relative move, and the pairs the change won; then the failed and
attempted op counts and the runs that were not correct. `--out FILE`
writes every run's result as JSON.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile


def sh(cmd, cwd, **kw):
    return subprocess.run(cmd, cwd=cwd, check=True, **kw)


def export(root, rev, dest):
    """`git archive` of `rev` into `dest` (reused when already there).

    A `dest` holding another export is deleted first, so files only that
    export had do not end up in the build."""
    marker = os.path.join(dest, ".exported-rev")
    sha = sh(["git", "rev-parse", rev], root, capture_output=True, text=True).stdout.strip()
    if os.path.exists(marker) and open(marker).read().strip() == sha:
        return sha
    if os.path.exists(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", sha], cwd=root, stdout=subprocess.PIPE)
    sh(["tar", "-x", "-C", dest], root, stdin=archive.stdout)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")
    with open(marker, "w") as f:
        f.write(sha + "\n")
    return sha


def compile_tree(tree):
    print(f"[pairs] sbt compile in {tree}", file=sys.stderr, flush=True)
    res = subprocess.run(["sbt", "-batch", "compile"], cwd=tree,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.exit(f"sbt compile failed in {tree}:\n{res.stdout[-3000:]}")


def run_once(tree, workload, seed, seconds):
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def report(workload, metrics, runs):
    print(f"\n== {workload}: {len(runs)} pairs")
    print(f"{'metric':<20} {'parent p50 [q1, q3]':>30} {'change p50 [q1, q3]':>30} {'move':>8} {'wins':>6}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(p["metrics"].get(name), c["metrics"].get(name)) for p, c in runs]
        pairs = [(p["value"], c["value"]) for p, c in pairs if p and c]
        if not pairs:
            print(f"{name:<20} (missing)")
            continue
        par, chg = [p for p, _ in pairs], [c for _, c in pairs]
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        pm, cm = quantile(par, 0.5), quantile(chg, 0.5)
        move = (cm / pm - 1.0) * 100.0 if pm else float("nan")
        fmt = lambda xs: f"{quantile(xs, 0.5):.4g} [{quantile(xs, 0.25):.4g}, {quantile(xs, 0.75):.4g}]"
        print(f"{name:<20} {fmt(par):>30} {fmt(chg):>30} {move:>+7.1f}% {wins:>3}/{len(pairs)}")
    for side, i in (("parent", 0), ("change", 1)):
        att = sum(r[i]["attempted"] for r in runs)
        fail = sum(r[i]["failed"] for r in runs)
        bad = sum(1 for r in runs if not r[i]["correct"])
        print(f"{side}: failed {fail}/{att} ops, {bad} runs not correct")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent revision, e.g. HEAD~1")
    ap.add_argument("--change", help="change revision (default: this working tree)")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--scratch", default=os.path.join(tempfile.gettempdir(), "graft-bench-pairs"))
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args()

    here = os.path.dirname(os.path.abspath(__file__))
    root = sh(["git", "rev-parse", "--show-toplevel"], here,
              capture_output=True, text=True).stdout.strip()
    parent = os.path.join(args.scratch, "parent")
    psha = export(root, args.parent, parent)
    change = root
    if args.change:
        change = os.path.join(args.scratch, "change")
        export(root, args.change, change)
    print(f"[pairs] parent {psha[:12]} in {parent}; change in {change}", file=sys.stderr)
    for tree in (parent, change):
        compile_tree(tree)
    with open(os.path.join(change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    results = {}
    for w in args.workload:
        runs = []
        for i in range(args.pairs):
            seed = args.seed + i
            order = [("parent", parent), ("change", change)]
            if i % 2:
                order.reverse()
            got = {}
            for side, tree in order:
                got[side] = run_once(tree, w, seed, args.seconds)
                print(f"[pairs] {w} seed {seed} {side}: " + json.dumps(got[side]),
                      file=sys.stderr, flush=True)
            runs.append((got["parent"], got["change"]))
        results[w] = [{"seed": args.seed + i, "parent": p, "change": c}
                      for i, (p, c) in enumerate(runs)]
        if args.out:
            with open(args.out, "w") as f:
                json.dump({"parent": psha, "results": results}, f, indent=1)
        report(w, metrics, runs)


if __name__ == "__main__":
    main()
