"""The traced run: the program's layer functions are wrapped, from
outside, by spans, and each wrapper materialises its layer's output
before the span closes so Spark's lazy work is attributed to the layer
that planned it.  The program's own thread pool is swapped for a
serial one for the same reason."""
from __future__ import annotations

import concurrent.futures
import dataclasses
import os

from perfbench.stats import median
from perfbench.trace import SerialExecutor, patched, self_times


class Materialiser:
    """Caches and counts DataFrames a wrapped layer returns; ``close``
    drops the caches after the traced operation."""

    def __init__(self):
        self.cached = []

    def frame(self, df):
        df = df.cache()
        self.cached.append(df)
        return df, df.count()

    def close(self):
        for df in self.cached:
            df.unpersist()
        self.cached = []

    # -- one per wrapped layer function ---------------------------------
    def dataframe(self, out, span, args, kwargs):
        out, span.attrs["rows"] = self.frame(out)
        return out

    def interactions(self, out, span, args, kwargs):
        df, names = out
        df, span.attrs["rows"] = self.frame(df)
        span.attrs["columns_out"] = len(names)
        return df, names

    def dataset(self, info, span, args, kwargs):
        df, span.attrs["rows_valid"] = self.frame(info.df)
        span.attrs["rows_invalid"] = (info.invalid_lines.count()
                                      if info.invalid_lines is not None
                                      else 0)
        return dataclasses.replace(info, df=df)

    def sketches(self, out, span, args, kwargs):
        span.attrs["keys"] = len(out)
        span.attrs["state_bytes"] = sum(len(sk.to_bytes())
                                        for sk in out.values())
        return out

    def scores(self, out, span, args, kwargs):
        out, span.attrs["triplets"] = self.frame(out)
        span.attrs["pairs"] = len(args[2])
        span.attrs["batches"] = args[5]
        # batch sizes, taken outside the span (they cost a job)
        span.attrs["batch_input"] = (args[0], list(args[1]), args[5])
        return out

    def ranking(self, out, span, args, kwargs):
        span.attrs["triplets"] = len(out.pairwise)
        return out

    def reports(self, out, span, args, kwargs):
        folder = args[2]
        span.attrs["bytes_written"] = sum(
            os.path.getsize(os.path.join(folder, name)) for name in out)
        return out


def batch_rows_max_over_mean(df, columns, n_batches) -> float:
    """Largest scoring minibatch over the mean one, using the batch
    key ``score_batches`` assigns (columns hashed to longs first, as it
    does for relabel-invariant heuristics)."""
    from pyspark.sql import functions as F

    from outrank_spark.hashing import qcol
    from outrank_spark.operators.pair_scoring import assign_batches

    safe = [f"__f{i}" for i in range(len(columns))]
    base = df.select(*[F.xxhash64(qcol(c)).alias(s)
                       for c, s in zip(columns, safe)])
    sizes = [r["count"] for r in assign_batches(base, n_batches, key_cols=safe)
             .groupBy("batch_id").count().collect()]
    return max(sizes) / (sum(sizes) / n_batches)


def layer_targets(tracer, mat: Materialiser) -> list:
    """(module, attribute, traced replacement) for every layer call the
    workloads make, at the name the caller resolves."""
    from outrank_spark.operators import interactions, pair_scoring
    from outrank_spark.plans import ranking_job, reports
    from outrank_spark.sources import readers
    from outrank_spark.streaming import ranking_stream

    spec = [
        (interactions, "with_interaction_features",
         "interactions.with_interaction_features", mat.interactions),
        (readers, "read_dataset", "sources.read_dataset", mat.dataset),
        (ranking_job, "run_ranking", "ranking_job.run_ranking",
         mat.ranking),
        (ranking_job, "deterministic_subsample",
         "pair_scoring.deterministic_subsample", mat.dataframe),
        (pair_scoring, "deterministic_subsample",
         "pair_scoring.deterministic_subsample", mat.dataframe),
        (ranking_job, "build_sketches", "sketch_build.build_sketches",
         mat.sketches),
        (ranking_stream, "build_sketches", "sketch_build.build_sketches",
         mat.sketches),
        (ranking_job, "score_batches", "pair_scoring.score_batches",
         mat.scores),
        (ranking_stream, "score_batches", "pair_scoring.score_batches",
         mat.scores),
        (ranking_job, "symmetrize", "pair_scoring.symmetrize",
         mat.dataframe),
        (ranking_job, "feature_singles_summary",
         "ranking_job.feature_singles_summary", None),
        (ranking_stream, "feature_singles_summary",
         "ranking_job.feature_singles_summary", None),
        (reports, "feature_memory_estimate",
         "reports.feature_memory_estimate", None),
        (reports, "write_reports", "reports.write_reports", mat.reports),
        (ranking_stream.StreamingRankingAccumulator, "process_batch",
         "ranking_stream.process_batch", None),
        (ranking_stream.StreamingRankingAccumulator, "result",
         "ranking_stream.result", mat.ranking),
    ]
    targets = [(mod, attr, tracer.wrap(name, getattr(mod, attr), m))
               for mod, attr, name, m in spec]
    targets.append((concurrent.futures, "ThreadPoolExecutor",
                    SerialExecutor))
    return targets


def traced(tracer, fn):
    """Run ``fn()`` with every layer wrapped; caches are dropped
    afterwards."""
    mat = Materialiser()
    try:
        with patched(layer_targets(tracer, mat)):
            return fn()
    finally:
        mat.close()


def _total(spans, name) -> float:
    return sum(s.duration for s in spans if s.name == name)


def _attr_sum(spans, name, key) -> int:
    return sum(s.attrs.get(key, 0) for s in spans if s.name == name)


def _median_gap(spans) -> float:
    """run_ranking's inline median: from the end of its symmetrize
    call to the start of its feature_singles_summary call."""
    gaps = []
    by_parent: dict[int, dict[str, object]] = {}
    for s in spans:
        by_parent.setdefault(s.parent, {})[s.name] = s
    for kids in by_parent.values():
        sym = kids.get("pair_scoring.symmetrize")
        fin = kids.get("ranking_job.feature_singles_summary")
        if sym is not None and fin is not None:
            gaps.append(fin.start - sym.end)
    return sum(gaps)


def layer_metrics(spans, op_root, untraced_wall: float) -> tuple[dict, dict]:
    """(metrics every workload reports, metrics of layers on this
    workload's path only) from the traced run's spans.  ``op_root`` is
    the span of the traced operation."""
    score = [s for s in spans if s.name == "pair_scoring.score_batches"]
    score_s = sum(s.duration for s in score)
    pair_evals = sum(s.attrs["pairs"] * s.attrs["batches"] for s in score)
    skew = [batch_rows_max_over_mean(*s.attrs.pop("batch_input"))
            for s in score]
    sketch = "sketch_build.build_sketches"
    selfs = self_times(spans)
    tree = _subtree(spans, op_root.span_id)
    wall = op_root.duration
    common = {
        "pair_scoring.score_s": score_s,
        "pair_scoring.pairs": max((s.attrs["pairs"] for s in score),
                                  default=0),
        "pair_scoring.batches": sum(s.attrs["batches"] for s in score),
        "pair_scoring.pair_evals_per_s": (pair_evals / score_s
                                          if score_s else 0.0),
        "pair_scoring.batch_rows_max_over_mean": max(skew, default=0.0),
        "sketch_build.s": _total(spans, sketch),
        "sketch_build.keys": _attr_sum(spans, sketch, "keys"),
        "sketch_build.state_bytes": _attr_sum(spans, sketch, "state_bytes"),
        "ranking_job.finalize_s": _total(
            spans, "ranking_job.feature_singles_summary"),
        # symmetrised (feature, feature, median score) rows of the result
        "ranking_job.triplets": max(
            (s.attrs["triplets"] for s in spans if s.name in (
                "ranking_job.run_ranking", "ranking_stream.result")),
            default=0),
        "trace.wall_s": wall,
        "trace.untraced_wall_s": untraced_wall,
        "trace.overhead_s": wall - untraced_wall,
        "trace.self_sum_s": sum(selfs[i] for i in tree),
    }
    path = {
        "pair_scoring.subsample_s": _total(
            spans, "pair_scoring.deterministic_subsample"),
        "interactions.s": _total(spans,
                                 "interactions.with_interaction_features"),
        "interactions.columns_out": max(
            (s.attrs["columns_out"] for s in spans
             if s.name == "interactions.with_interaction_features"),
            default=0),
        "sources.read_s": _total(spans, "sources.read_dataset"),
        "sources.rows_valid": _attr_sum(spans, "sources.read_dataset",
                                        "rows_valid"),
        "sources.rows_invalid": _attr_sum(spans, "sources.read_dataset",
                                          "rows_invalid"),
        "ranking_job.median_s": _median_gap(spans),
        "reports.memory_estimate_s": _total(
            spans, "reports.feature_memory_estimate"),
        "reports.write_s": _total(spans, "reports.write_reports"),
        "reports.bytes_written": _attr_sum(spans, "reports.write_reports",
                                           "bytes_written"),
        "ranking_stream.result_s": _total(spans, "ranking_stream.result"),
    }
    return common, path


def _subtree(spans, root_id: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.span_id)
    out, todo = [], [root_id]
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo.extend(kids.get(sid, ()))
    return out


def self_time_table(spans) -> list[tuple[str, int, float, float]]:
    """(name, calls, total s, self s) per span name, by self time."""
    selfs = self_times(spans)
    rows: dict[str, list] = {}
    for s in spans:
        r = rows.setdefault(s.name, [s.name, 0, 0.0, 0.0])
        r[1] += 1
        r[2] += s.duration
        r[3] += selfs[s.span_id]
    return sorted((tuple(r) for r in rows.values()), key=lambda r: -r[3])


def spark_counts(per_op: list[dict]) -> dict[str, float]:
    """Median jobs and tasks per operation, and their spread (max -
    min) across the run's operations: AQE can change task counts."""
    jobs = [c["jobs"] for c in per_op]
    tasks = [c["tasks"] for c in per_op]
    return {
        "spark.jobs": median(jobs),
        "spark.jobs_spread": max(jobs) - min(jobs),
        "spark.tasks": median(tasks),
        "spark.tasks_spread": max(tasks) - min(tasks),
    }
