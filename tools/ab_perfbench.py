"""Interleaved A/B runs of one perfbench workload: a base commit against
the working tree, on the same host in the same minutes.

    python tools/ab_perfbench.py --workload csv-wide-target --pairs 5 \
        [--base HEAD~1 | --base-dir <checkout>] [--seconds 20] [--seed 1]

Each pair runs ``perfbench/run.py --trace 0`` once in a checkout of the
base and once in the working tree, the side that goes first
alternating from pair to pair.  The base checkout is a ``git worktree``
of ``--base`` (default ``HEAD~1``) under a temporary directory, removed
at the end; ``--base-dir`` uses an existing checkout instead.  Prints
each pair's end-to-end metrics, then per metric the two medians, their
difference (change minus base), the base side's quartiles and their
distance (IQR), and in how many pairs the working tree was better
(direction from BENCHMARK.json).  A gain stands out from the base's
run-to-run spread when the difference exceeds that IQR.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STDERR_TAIL_LINES = 40


def run_once(checkout: str, args) -> dict[str, float]:
    """{metric: value} of one ``perfbench/run.py`` call in ``checkout``."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    if out.returncode:
        tail = "\n".join(out.stderr.splitlines()[-STDERR_TAIL_LINES:])
        raise SystemExit(f"{checkout}: perfbench/run.py exited with "
                         f"{out.returncode}; stderr ends:\n{tail}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"{checkout}: {result['failed']} failed operations")
    return {k: v["value"] for k, v in result["metrics"].items()}


def compare(args, base: str) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"]
                  for m in json.load(f)["end_to_end"]}
    runs: dict[str, list[dict]] = {"base": [], "change": []}
    for i in range(args.pairs):
        order = [("base", base), ("change", ROOT)]
        for side, checkout in order if i % 2 == 0 else order[::-1]:
            runs[side].append(run_once(checkout, args))
        print(f"pair {i + 1}: " + "  ".join(
            f"{m} {runs['base'][-1][m]:.4g} -> {runs['change'][-1][m]:.4g}"
            for m in better), flush=True)
    for m, direction in better.items():
        a = [r[m] for r in runs["base"]]
        b = [r[m] for r in runs["change"]]
        wins = sum((y < x) if direction == "lower" else (y > x)
                   for x, y in zip(a, b))
        q1, q3 = quartiles(a)
        med_a, med_b = statistics.median(a), statistics.median(b)
        print(f"{m}: median {med_a:.4g} -> {med_b:.4g} "
              f"(diff {med_b - med_a:+.4g}; base quartiles {q1:.4g}, "
              f"{q3:.4g}, IQR {q3 - q1:.4g}); change better in "
              f"{wins}/{len(a)} pairs")


def quartiles(values) -> tuple[float, float]:
    """First and third quartile, linearly interpolated between the
    sorted values (as ``perfbench.stats.percentile`` does)."""
    if len(values) < 2:
        return values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q3


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=5)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--base", default="HEAD~1")
    p.add_argument("--base-dir", default="")
    args = p.parse_args(argv)
    if args.base_dir:
        compare(args, os.path.abspath(args.base_dir))
        return
    with tempfile.TemporaryDirectory() as tmp:
        base = os.path.join(tmp, "base")
        subprocess.run(["git", "worktree", "add", "--detach", base,
                        args.base], cwd=ROOT, check=True)
        try:
            compare(args, base)
        finally:
            subprocess.run(["git", "worktree", "remove", "--force", base],
                           cwd=ROOT, check=True)


if __name__ == "__main__":
    main()
