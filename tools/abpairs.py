#!/usr/bin/env python3
"""Run alternating parent/change pairs of the benchmark and summarise them.

Usage:
    python3 tools/abpairs.py <parent_dir> <change_dir> --workload W --pairs N --seed S

Each directory is a checkout of the repository, for example the parent
commit unpacked with `git archive` and the working tree. Pair i runs
`python3 flightbench/run.py --workload W --seed S --trace 0` once in each
directory, one run after the other: even pairs run the parent first, odd
pairs the change, so neither side always runs second on a warmer host.
Runs never overlap. Each directory builds on its first run.

Prints one `RUN` line per run (side, pair, `steal_share`, correctness,
failed ops and its end-to-end metrics as JSON), then for every metric
each side's median and quartiles, the change/parent ratio of the
medians, and the pairs the change won (ties count for neither side).
A gain holds when the change wins at least nine tenths of the pairs and
the medians differ by more than the parent's interquartile range. An
end-to-end metric is within its bound when the change's median is no
worse than the parent's by more than the bound in BENCHMARK.json.
Exits 1 when a run failed or reported a wrong result.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, os.path.join(REPO, "flightbench"))
from stats import median, quantile  # noqa: E402


def run_once(tree, workload, seed):
    """One benchmark run in `tree` -> (settings, result), or None."""
    p = subprocess.run(
        [sys.executable, "flightbench/run.py", "--workload", workload,
         "--seed", str(seed), "--trace", "0"],
        cwd=tree, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(f"run in {tree} failed (exit {p.returncode}):\n{p.stderr[-2000:]}\n")
        return None
    return json.loads(lines[-2]), json.loads(lines[-1])


def spread(xs):
    return median(xs), quantile(xs, 0.25), quantile(xs, 0.75)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()

    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    sides = {"parent": a.parent_dir, "change": a.change_dir}
    runs = {"parent": [], "change": []}  # per pair: metrics dict or None
    steal = {"parent": [], "change": []}
    bad = 0
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            out = run_once(sides[side], a.workload, a.seed)
            if out is None:
                runs[side].append(None)
                bad += 1
                continue
            settings, result = out
            metrics = {k: v["value"] for k, v in result["metrics"].items()}
            runs[side].append(metrics)
            steal[side].append(settings["host"]["steal_share"])
            ok = result["correct"] and result["failed"] == 0
            bad += 0 if ok else 1
            print("RUN " + json.dumps({
                "side": side, "pair": i, "steal_share": settings["host"]["steal_share"],
                "correct": result["correct"], "failed": result["failed"],
                "metrics": metrics}), flush=True)

    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"]) if p and c]
    print(f"\n{a.workload}, seed {a.seed}: {len(pairs)} complete pairs of {a.pairs}")
    print(f"{'metric':<24} {'better':<6} {'parent median [q1, q3]':<28} "
          f"{'change median [q1, q3]':<28} {'ratio':>6} {'wins':>6}  gain  bound")
    for name in sorted({k for p, _ in pairs for k in p}):
        ps = [p[name] for p, c in pairs if name in c]
        cs = [c[name] for p, c in pairs if name in c]
        if not ps:
            continue
        pm, p1, p3 = spread(ps)
        cm, c1, c3 = spread(cs)
        ratio = f"{cm / pm:.2f}x" if pm else "-"
        wins = gain = within = "-"
        if name in better:
            sign = 1 if better[name] == "higher" else -1
            won = sum(1 for p, c in zip(ps, cs) if sign * (c - p) > 0)
            wins = f"{won}/{len(ps)}"
            gain = "yes" if won >= 0.9 * len(ps) and sign * (cm - pm) > p3 - p1 else "no"
            if name in bound:
                worse = -sign * (cm - pm) / abs(pm) if pm else 0.0
                within = "ok" if worse <= bound[name] else "WORSE"
        print(f"{name:<24} {better.get(name, '-'):<6} "
              f"{f'{pm:.4g} [{p1:.4g}, {p3:.4g}]':<28} {f'{cm:.4g} [{c1:.4g}, {c3:.4g}]':<28} "
              f"{ratio:>6} {wins:>6}  {gain:<4}  {within}")
    for side in ("parent", "change"):
        print(f"{side} steal_share per run: " + " ".join(f"{x:.3f}" for x in steal[side]))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
