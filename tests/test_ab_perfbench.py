"""tools/ab_perfbench.py: interleaved order, win counts, failed runs."""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import ab_perfbench  # noqa: E402


def _args(pairs=4):
    return argparse.Namespace(workload="csv-wide-target", pairs=pairs,
                              seed=1, seconds=20)


def test_order_alternates_and_wins_follow_direction(monkeypatch, capsys):
    """The side that runs first alternates from pair to pair, and a
    metric counts as won when it moved in its BENCHMARK.json
    direction."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    calls = []

    def run_once(checkout, args):
        calls.append(checkout)
        # the change is 10% larger on every metric
        scale = 1.1 if checkout == ab_perfbench.ROOT else 1.0
        return {m: scale * (i + 1) for i, m in enumerate(better)}

    monkeypatch.setattr(ab_perfbench, "run_once", run_once)
    ab_perfbench.compare(_args(4), "BASE")
    change = ab_perfbench.ROOT
    assert calls == ["BASE", change, change, "BASE",
                     "BASE", change, change, "BASE"]
    summary = {line.split(":")[0]: line
               for line in capsys.readouterr().out.splitlines()
               if ": median" in line}
    assert set(summary) == set(better)
    for m, direction in better.items():
        wins = 4 if direction == "higher" else 0
        assert summary[m].endswith(f"change better in {wins}/4 pairs"), \
            summary[m]
    assert set(better.values()) == {"lower", "higher"}

def test_failed_run_reports_stderr_tail(monkeypatch):
    def failing(cmd, **kwargs):
        stderr = "\n".join(f"line {i}" for i in range(100))
        return subprocess.CompletedProcess(cmd, 3, stdout="", stderr=stderr)

    monkeypatch.setattr(ab_perfbench.subprocess, "run", failing)
    with pytest.raises(SystemExit) as err:
        ab_perfbench.run_once("CHECKOUT", _args())
    message = str(err.value)
    assert "exited with 3" in message
    assert "line 99" in message and "line 60" in message
    assert "line 59" not in message


def test_summary_reports_median_difference_and_base_iqr(monkeypatch, capsys):
    """Each metric's line gives the difference of the medians (change
    minus base) and the base side's quartiles and IQR, the spread a
    claimed gain is compared with."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        better = [m["name"] for m in json.load(f)["end_to_end"]]
    base = iter([1.0, 2.0, 3.0, 4.0, 5.0])
    change = iter([0.5, 1.5, 2.5, 3.5, 4.5])

    def run_once(checkout, args):
        side = change if checkout == ab_perfbench.ROOT else base
        value = next(side)
        return {m: value for m in better}

    monkeypatch.setattr(ab_perfbench, "run_once", run_once)
    ab_perfbench.compare(_args(5), "BASE")
    lines = [line for line in capsys.readouterr().out.splitlines()
             if ": median" in line]
    assert len(lines) == len(better)
    for line in lines:
        # base 1..5: median 3, quartiles 2 and 4; change median 2.5
        assert "median 3 -> 2.5 (diff -0.5; base quartiles 2, 4, IQR 2)" \
            in line, line


def test_quartiles_interpolate_like_perfbench():
    from perfbench.stats import percentile

    for values in ([0.8, 0.9, 0.7, 1.0], [3.0, 1.0], [1, 2, 3, 4, 5, 6, 7]):
        assert ab_perfbench.quartiles(values) == pytest.approx(
            (percentile(values, 25), percentile(values, 75)))
    assert ab_perfbench.quartiles([2.5]) == (2.5, 2.5)
