"""Feature-ranking benchmark: one workload, one run.

    python3 perfbench/run.py --workload stream-microbatch --seed 1 \
        --seconds 20 --trace 0

Boots Spark on ``local[<cores>]``, generates the workload's inputs
from ``--seed`` (set-up is repeated and its median reported), warms
up, then runs the workload's operation in a closed loop (one client,
next operation when the previous one returns) for ``--seconds``,
checking every output.  ``--trace 0`` reports the end-to-end metrics
named in BENCHMARK.json, as times adjusted to a reference host speed
(``hostspeed.py``; the wall-clock values are in the report);
``--trace 1`` adds one operation run with
every layer wrapped in spans, the kernel microbenchmarks and the
scheduler counts, and reports the per-layer metrics.  A readable
report goes to standard output first; the last line is the JSON
result.  Spans are written to ``.perfbench_runs/`` in the checkout.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def guarded(fn, check=None) -> tuple[object, list[str]]:
    """(result, problems) of ``fn()`` and of ``check(result)``; an
    exception is a problem, reported with its traceback."""
    try:
        out = fn()
    except Exception:
        return None, [traceback.format_exc(limit=4)]
    if check is None:
        return out, []
    try:
        return out, check(out)
    except Exception:
        return out, [traceback.format_exc(limit=4)]


def run_op(wl, i, jobs):
    """((start, end) or None, problems, scheduler counts) of operation i."""
    with jobs.group() as counts:
        t0 = time.perf_counter()
        out, problems = guarded(lambda: wl.op(i))
        t1 = time.perf_counter()
    if problems:
        return None, problems, counts
    _, problems = guarded(lambda: out, wl.check)
    return (t0, t1), problems, counts


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def add(self, what: str, problems) -> None:
        self.attempted += 1
        if problems:
            self.failures.append(f"{what}: " + "; ".join(problems))


def closed_loop(wl, seconds: float, jobs, tally: Tally):
    """(start, end) of each operation that returned, scheduler counts,
    operations run."""
    windows, counts = [], []
    t_end = time.perf_counter() + seconds
    i = 0
    while i < wl.min_ops or time.perf_counter() < t_end:
        i += 1
        window, problems, c = run_op(wl, i, jobs)
        tally.add(f"op {i}", problems)
        counts.append(c)
        if window is not None:
            windows.append(window)
    return windows, counts, i


def end_to_end(wl, setups, latencies) -> tuple[dict, float]:
    from perfbench import stats

    tail, q = stats.tail(latencies)
    return {
        "setup_s": stats.median(setups),
        "rows_per_s": stats.median([wl.rows_per_op / t for t in latencies]),
        "batch_latency_p50_s": stats.median(latencies),
        "batch_latency_tail_s": tail,
    }, q


def run(args, work: str) -> tuple[dict, Tally, list[str]]:
    from perfbench import kernels, layers, stats
    from perfbench.hostspeed import HostSpeed
    from perfbench.spark_env import JobCounter, PeakRss, start_session
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, work)
    setup_windows, spark = [], None
    host = HostSpeed().start()
    try:
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_session(work)
            wl.setup(spark)
            setup_windows.append((t0, time.perf_counter()))
        phases = {"setup": sum(b - a for a, b in setup_windows)}
        t0 = time.perf_counter()
        wl.prepare()
        phases["prepare"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warmup()
        phases["warmup"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        jobs = JobCounter(spark, wl.name)
        tally = Tally()
        with PeakRss(os.getpid()) as rss:
            windows, counts, n_ops = closed_loop(wl, args.seconds, jobs,
                                                 tally)
        if not windows:
            raise RuntimeError("every operation raised:\n"
                               + "\n".join(tally.failures))
        latencies = [b - a for a, b in windows]
        setups = [host.adjusted(a, b) for a, b in setup_windows]
        e2e, q = end_to_end(wl, setups,
                            [host.adjusted(a, b) for a, b in windows])
        wall, _ = end_to_end(wl, [b - a for a, b in setup_windows],
                             latencies)
        peak_rss_mb = rss.peak / 2 ** 20
        report = [
            f"workload {wl.name}  seed {args.seed}  "
            f"local[{spark.sparkContext.defaultParallelism}]",
            f"  host speed: probe {host.ratio():.3f}x the reference time; "
            "times below at reference speed [wall clock]",
            f"  setup_s {e2e['setup_s']:.3f} s [{wall['setup_s']:.3f}]  "
            "(median of " + ", ".join(f"{s:.3f}" for s in setups) + ")",
            f"  rows_per_s {e2e['rows_per_s']:.1f} rows/s "
            f"[{wall['rows_per_s']:.1f}]  ({wl.rows_per_op} rows per "
            "operation)",
            f"  batch_latency_p50_s {e2e['batch_latency_p50_s']:.4f} s "
            f"[{wall['batch_latency_p50_s']:.4f}]  (n={len(latencies)}, "
            "wall: " + " ".join(f"{t:.3f}" for t in latencies) + ")",
            f"  batch_latency_tail_s {e2e['batch_latency_tail_s']:.4f} s "
            f"[{wall['batch_latency_tail_s']:.4f}]  at p{q:g}  "
            f"(n={len(latencies)})",
            f"  peak_rss_mb {peak_rss_mb:.1f} MB",
        ]
        sched = layers.spark_counts(counts)

        tracer = Tracer(run_id=f"{wl.name}-{args.seed}-{os.getpid()}")
        if args.trace:
            def traced_op():
                with tracer.span("op") as root:
                    return root, wl.op(n_ops + 1)

            traced_out, problems = guarded(
                lambda: layers.traced(tracer, traced_op))
            if problems:
                raise RuntimeError("traced operation raised:\n"
                                   + "\n".join(problems))
            root, out = traced_out
            tally.add("traced op", guarded(lambda: out, wl.check)[1])
        if wl.final_op is not None:
            final = ((lambda: layers.traced(tracer, wl.final_op))
                     if args.trace else wl.final_op)
            tally.add("final", guarded(final, wl.check_final)[1])
        phases["loop+finish"] = time.perf_counter() - t0
        card_err = wl.card_err
        attempted = tally.attempted
        report += [
            f"  card_rel_err_max {card_err:.6f}",
            f"  error_rate {len(tally.failures) / attempted:.4f}  "
            f"({len(tally.failures)} of {attempted} operations failed)",
            f"  spark jobs/op {sched['spark.jobs']:g} "
            f"(spread {sched['spark.jobs_spread']:g}), tasks/op "
            f"{sched['spark.tasks']:g} (spread {sched['spark.tasks_spread']:g})",
            "  phases " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()),
        ]
        if not args.trace:
            return e2e, tally, report

        common, path = layers.layer_metrics(
            tracer.spans, root, stats.median(latencies))
        gap = abs(common["trace.self_sum_s"] - common["trace.wall_s"])
        tally.add("span self times", [] if gap <= abs(
            common["trace.overhead_s"]) else [
            f"self times sum to {common['trace.self_sum_s']:.4f} s, wall "
            f"{common['trace.wall_s']:.4f} s"])
        path.update(wl.path_metrics())
        per_layer = {
            **common, **sched, **kernels.run_all(args.seed),
            "sketches.card_rel_err_max": card_err,
            "process.peak_rss_mb": peak_rss_mb,
        }
        out_dir = os.path.join(ROOT, ".perfbench_runs")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{tracer.run_id}.json"))
        report.append("  traced operation: span, calls, total s, self s")
        for name, calls, total, own in layers.self_time_table(tracer.spans):
            report.append(f"    {name:42s} {calls:3d} {total:9.4f} {own:9.4f}")
        report.append("  layers only some workloads run (0: not on this "
                      "workload's path):")
        for k, v in sorted(path.items()):
            report.append(f"    {k} {v:.6g}")
        return per_layer, tally, report
    finally:
        host.stop()
        if spark is not None:
            from perfbench.spark_env import shutdown

            shutdown(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "outrank_spark")):
        print(f"perfbench: no outrank_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.spark_env import prepare_environment
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_environment(ROOT, work)
    try:
        values, tally, report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in report + [f"  FAILED {f}" for f in tally.failures]:
        print(line)
    result = {
        "correct": not tally.failures,
        "attempted": tally.attempted,
        "failed": len(tally.failures),
        "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                "unit": m["unit"]} for m in spec},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
