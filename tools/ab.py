#!/usr/bin/env python
"""Interleaved A/B of two git revisions on the esbench benchmark.

    python tools/ab.py BASE NEW --workload search_mix --pairs 10 --seeds 3,7,11

Each revision is ``git archive``d into its own directory under
``.ab_work/``.  Then ``--pairs`` pairs of ``esbench/run.py`` runs go one
after the other, one run per side, alternating which side runs first, so
a slow phase of the host hits both sides alike.  Pair ``i`` uses seed
``seeds[i % len(seeds)]``.  The report gives, per metric: the median and
quartiles of each side, the base side's interquartile range, and the
pairs the new side won (better by the direction ``BENCHMARK.json``
declares).  It ends with the failed operations per side.  Each run's
result line goes to stderr as it finishes.

A revision is anything ``git archive`` takes.  To measure uncommitted
work, stage it and pass ``$(git stash create)``.  An A/B of a revision
against itself should read flat: medians within the base IQR and wins
near half.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = os.path.join(ROOT, ".ab_work")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base", help="git revision of the base side")
    ap.add_argument("new", help="git revision of the new side")
    ap.add_argument("--workload", required=True, choices=("search_mix", "llm_dedup"))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="1", help="comma-separated; pair i uses seeds[i %% len]")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def checkout(rev: str, dest: str) -> None:
    os.makedirs(dest)
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", "--format=tar", rev], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(side_dir: str, args, seed: int) -> dict:
    cmd = [
        sys.executable, "esbench/run.py", "--workload", args.workload, "--seed", str(seed),
        "--trace", str(args.trace),
    ]
    out = subprocess.run(cmd, cwd=side_dir, capture_output=True, text=True)
    last = out.stdout.strip().splitlines()[-1:] or [""]
    try:
        return json.loads(last[0])
    except json.JSONDecodeError:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"ab: no result line from {side_dir} (exit {out.returncode})")


def directions(side_dir: str) -> dict[str, str]:
    with open(os.path.join(side_dir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"] for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(runs: dict[str, list[dict]], better: dict[str, str]) -> list[str]:
    names = sorted({k for r in runs["base"] + runs["new"] for k in r["metrics"]})
    lines = [
        f"{'metric':34} {'base median [q1, q3]':>32} {'new median [q1, q3]':>32}"
        f" {'delta':>8} {'base IQR':>10} {'wins':>6}"
    ]
    for name in names:
        pairs = [
            (b["metrics"][name]["value"], n["metrics"][name]["value"])
            for b, n in zip(runs["base"], runs["new"])
            if name in b["metrics"] and name in n["metrics"]
        ]
        if not pairs:
            continue
        bq = quartiles([b for b, _ in pairs])
        nq = quartiles([n for _, n in pairs])
        higher = better.get(name, "lower") == "higher"
        wins = sum((n > b) if higher else (n < b) for b, n in pairs)
        delta = (nq[1] - bq[1]) / bq[1] if bq[1] else 0.0
        base = f"{bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}]"
        new = f"{nq[1]:.4g} [{nq[0]:.4g}, {nq[2]:.4g}]"
        lines.append(
            f"{name:34} {base:>32} {new:>32} {delta:>+8.1%} {bq[2] - bq[0]:>10.4g}"
            f" {wins:>3}/{len(pairs)}"
        )
    for side in ("base", "new"):
        failed = sum(r["failed"] for r in runs[side])
        attempted = sum(r["attempted"] for r in runs[side])
        lines.append(f"failed ops {side}: {failed}/{attempted}")
    return lines


def main(argv=None) -> int:
    args = parse_args(argv)
    seeds = [int(s) for s in args.seeds.split(",")]
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    dirs = {side: os.path.join(WORK_DIR, side) for side in ("base", "new")}
    checkout(args.base, dirs["base"])
    checkout(args.new, dirs["new"])
    runs: dict[str, list[dict]] = {"base": [], "new": []}
    for i in range(args.pairs):
        seed = seeds[i % len(seeds)]
        order = ("base", "new") if i % 2 == 0 else ("new", "base")
        for side in order:
            result = run_once(dirs[side], args, seed)
            result["seed"] = seed
            runs[side].append(result)
            print(f"# pair {i + 1}/{args.pairs} {side}: {json.dumps(result)}",
                  file=sys.stderr, flush=True)
    print(f"# {args.workload}: {args.base} -> {args.new}, {args.pairs} pairs, seeds {seeds}")
    for line in report(runs, directions(dirs["new"])):
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
