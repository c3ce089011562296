"""outrank_spark — a PySpark-native sketch-based feature-ranking and
approximate-aggregation engine.

A from-scratch rebuild of the capabilities of outbrain-inc/outrank
(reference, read-only, at /root/reference) on idiomatic PySpark:
DataFrame/SQL plans optimized by Catalyst, mergeable numpy sketch
kernels carried through vectorized Arrow batches (mapInArrow /
applyInArrow on the ranking path, mapInPandas elsewhere), and
driver-side planning for pair enumeration and 3MR.

Layers (SURVEY.md §7.1):
  sketches/   pure-numpy mergeable kernels (HLL, CMS, Bloom, KLL,
              t-digest, bounded counter) — zero Spark dependency
  functions/  scoring + scalar kernels (MI estimators, coverage,
              text analysis) — zero Spark dependency
  operators/  Spark operators (sketch build/merge, pair scoring,
              dedup, similarity, derived features, transformers)
  sources/    readers + deterministic synthetic generators (pages,
              ranking matrices, csv-raw/vw parsers)
  plans/      driver-side planning: combinations, prior sampling,
              3MR, ranking pipeline (its finalisation and reports)
  streaming/  Structured Streaming: the foreachBatch folds (ranking,
              sketches, sliding-window distinct counts) with their one
              resumable state record (state.py, which the CLI's
              --checkpoint_dir resume uses too), keyed sketch state and
              event streams
"""
from __future__ import annotations

__version__ = "0.1.0"
