#!/usr/bin/env python3
"""Alternating A/B comparison of two checkouts on one perfbench workload.

Usage (from anywhere):
  python3 tools/ab_perfbench.py PARENT_DIR CHANGE_DIR --workload ingest_single \
      --seeds 11 12 13 [--seconds 10] [--out ab.json]

Each seed is one pair: both checkouts run `perfbench/run.py` untraced with
that seed, one after the other. The side that goes first alternates from
pair to pair, so a drift in host speed over the session does not favour
either side. For every end-to-end metric in the change's BENCHMARK.json the
script prints each side's median and interquartile range, the relative
change of the medians, and in how many pairs the change was better. It also
prints `correct` and `failed` for every run; a run that exits non-zero or
reports `correct: false` makes the script exit 1.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def args():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("parent", type=Path, help="checkout of the parent commit")
    p.add_argument("change", type=Path, help="checkout of the change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, type=int, nargs="+")
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--out", type=Path, help="also write every run's result JSON here")
    a = p.parse_args()
    for d in (a.parent, a.change):
        if not (d / "perfbench" / "run.py").is_file():
            p.error(f"{d} has no perfbench/run.py")
    return a


def run(checkout, workload, seed, seconds):
    """One untraced run; returns its result JSON, or None if it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if proc.returncode != 0:
        return None
    try:
        return json.loads(proc.stdout.rstrip("\n").split("\n")[-1])
    except ValueError:
        return None


def quartiles(xs):
    """First quartile, median and third quartile."""
    return (xs[0],) * 3 if len(xs) < 2 else tuple(statistics.quantiles(xs, n=4))


def main():
    a = args()
    metrics = json.loads((a.change / "BENCHMARK.json").read_text())["end_to_end"]
    sides = {"parent": a.parent, "change": a.change}
    results = {"parent": [], "change": []}
    ok = True
    for i, seed in enumerate(a.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(sides[side], a.workload, seed, a.seconds)
            results[side].append(r)
            if r is None:
                print(f"seed {seed} {side}: the run failed", flush=True)
                ok = False
                continue
            ok = ok and r["correct"]
            vals = " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4g}" for m in metrics)
            print(f"seed {seed} {side}: correct={r['correct']} failed={r['failed']}/{r['attempted']} {vals}",
                  flush=True)

    pairs = [(p, c) for p, c in zip(results["parent"], results["change"]) if p and c]
    print(f"\n{a.workload}: {len(pairs)} complete pairs of {len(a.seeds)}")
    print(f"{'metric':<20} {'parent median':>14} {'IQR':>9} {'change median':>14} {'IQR':>9} "
          f"{'rel change':>11} {'change better':>14}")
    for m in metrics if pairs else []:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["metrics"][name]["value"] for p, _ in pairs]
        chg = [c["metrics"][name]["value"] for _, c in pairs]
        (p1, pm, p3), (c1, cm, c3) = quartiles(par), quartiles(chg)
        better = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        print(f"{name:<20} {pm:>14.4f} {p3 - p1:>9.4f} {cm:>14.4f} {c3 - c1:>9.4f} "
              f"{cm / pm - 1:>+11.3f} {better:>9}/{len(pairs)}")
    if a.out:
        a.out.write_text(json.dumps({"workload": a.workload, "seeds": a.seeds, "runs": results}, indent=1))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
