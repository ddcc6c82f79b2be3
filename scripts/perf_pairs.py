#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, summarised per workload and
metric.

Usage: scripts/perf_pairs.py <parent-rev> --pairs N [--seed-base S]
           [--work DIR] [--keep]

Makes two local clones of this repository (no network): the parent at
<parent-rev>, and the change, which is the working tree as it stands
(tracked and untracked files, ignored ones excluded; files deleted since
HEAD stay deleted). Each side first runs one uncounted build run. Then
pair i runs `perfbench/run.py --seed <seed-base + i> --trace 0` on both
sides for each workload of BENCHMARK.json, for its `run_seconds`, parent
first on even i and change first on odd i, so that drift in the host's
load falls on both sides alike.

For each workload and end-to-end metric of BENCHMARK.json it prints each
side's median and quartiles, how many of the pairs run the change won, and
whether a claimed gain would hold: the change wins at least 9 in 10 of the
pairs run, its median differs from the parent's by more than the parent's
interquartile range, in the better direction, and it has no more runs that
failed or were not all correct, nor more failed ops, than the parent.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def git(cwd, *args):
    return subprocess.run(["git", "-C", str(cwd), *args], check=True,
                          capture_output=True, text=True).stdout


def clone(dest, rev):
    """A local clone of this repository at `rev`; None means the working
    tree, copied over a clone of HEAD."""
    subprocess.run(["git", "clone", "-q", "--no-hardlinks", str(ROOT),
                    str(dest)], check=True)
    git(dest, "checkout", "-q", rev or git(ROOT, "rev-parse", "HEAD").strip())
    if rev is None:
        # every path of HEAD the working tree no longer has, staged
        # deletions and the old side of renames included
        for name in git(ROOT, "diff", "--name-only", "-z", "--no-renames",
                        "--diff-filter=D", "HEAD").split("\0"):
            if name:
                (dest / name).unlink(missing_ok=True)
        for name in git(ROOT, "ls-files", "-z", "-co",
                        "--exclude-standard").split("\0"):
            src = ROOT / name
            if name and src.is_file():
                (dest / name).parent.mkdir(parents=True, exist_ok=True)
                shutil.copy2(src, dest / name)


def run(side_dir, workload, seed, seconds):
    """One perfbench run; its result JSON, or None when it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=side_dir, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        print(f"  run failed: {side_dir.name} {workload} seed {seed} "
              f"rc={p.returncode}: {p.stderr.strip().splitlines()[-1:]}",
              file=sys.stderr, flush=True)
        return None
    return json.loads(lines[-1])


def ok(res):
    """Every op of the run correct, none failed."""
    return res is not None and res["correct"] is True and res["failed"] == 0


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def faults(records, workload, side):
    """A side's runs that failed or were not all correct, and its failed
    ops, on one workload."""
    res = [r["result"] for r in records
           if r["workload"] == workload and r["side"] == side]
    return (sum(not ok(x) for x in res),
            sum(x["failed"] for x in res if x is not None))


def summarise(records, metrics):
    """One row per (workload, metric). Medians and quartiles cover the
    pairs where both sides ran; wins are counted against every pair run."""
    rows = []
    for w in sorted({r["workload"] for r in records}):
        pairs = {}
        for r in records:
            if r["workload"] == w:
                pairs.setdefault(r["pair"], {})[r["side"]] = r["result"]
        both = [p for p in pairs.values()
                if p.get("parent") is not None and p.get("change") is not None]
        no_worse = all(c <= p for c, p in zip(faults(records, w, "change"),
                                              faults(records, w, "parent")))
        for m in metrics:
            lower = m["better"] == "lower"
            par = [p["parent"]["metrics"][m["name"]]["value"] for p in both]
            chg = [p["change"]["metrics"][m["name"]]["value"] for p in both]
            if not par:
                continue
            wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
            pm, cm = statistics.median(par), statistics.median(chg)
            pq, cq = quartiles(par), quartiles(chg)
            better = cm < pm if lower else cm > pm
            holds = (better and no_worse and wins >= 0.9 * len(pairs)
                     and abs(cm - pm) > pq[1] - pq[0])
            rows.append((w, m["name"], pm, pq, cm, cq, wins, len(pairs), holds))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_rev")
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed-base", type=int, default=None,
                    help="first seed (default: derived from the clock)")
    ap.add_argument("--work", default=None, help="clone directory (default: temp)")
    ap.add_argument("--keep", action="store_true", help="keep the clones")
    a = ap.parse_args()

    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = declared["end_to_end"]
    workloads = [w["name"] for w in declared["workloads"]]
    seconds = declared["run_seconds"]
    seed_base = a.seed_base if a.seed_base is not None else int(time.time()) % 100000
    work = Path(a.work or tempfile.mkdtemp(prefix="perf_pairs_"))
    work.mkdir(parents=True, exist_ok=True)
    sides = {"parent": work / "parent", "change": work / "change"}
    print(f"clones under {work}; seeds {seed_base}..{seed_base + a.pairs - 1}",
          flush=True)
    records = []
    try:
        clone(sides["parent"], a.parent_rev)
        clone(sides["change"], None)
        for side, d in sides.items():
            print(f"build run: {side}", flush=True)
            if run(d, workloads[0], seed_base - 1, seconds) is None:
                raise SystemExit(f"perf_pairs: the {side} build run failed")
        for i in range(a.pairs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for w in workloads:
                for side in order:
                    res = run(sides[side], w, seed_base + i, seconds)
                    records.append({"pair": i, "workload": w, "side": side,
                                    "seed": seed_base + i, "result": res})
                    if res is not None:
                        print(f"pair {i} {w} {side}: " + " ".join(
                            f"{k}={v['value']:.4g}"
                            for k, v in sorted(res["metrics"].items()))
                            + ("" if ok(res) else " NOT ALL CORRECT"),
                            flush=True)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)

    print()
    print("| workload | metric | parent median (q1–q3) | change median (q1–q3) "
          "| ratio | change wins | gain holds |")
    print("|---|---|---|---|---|---|---|")
    for w, m, pm, pq, cm, cq, wins, n, holds in summarise(records, metrics):
        ratio = cm / pm if pm else float("nan")
        print(f"| {w} | {m} | {pm:.4g} ({pq[0]:.4g}–{pq[1]:.4g}) "
              f"| {cm:.4g} ({cq[0]:.4g}–{cq[1]:.4g}) | ×{ratio:.3f} "
              f"| {wins}/{n} | {'yes' if holds else 'no'} |")
    print(f"\n{len(records)} runs")
    for w in workloads:
        for side in sides:
            runs, ops = faults(records, w, side)
            print(f"{w} {side}: {runs} runs failed or not all correct, "
                  f"{ops} failed ops")


if __name__ == "__main__":
    main()
