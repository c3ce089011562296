"""Mergeable sketch kernels (pure numpy, zero Spark dependency).

Every sketch follows the same mergeable-accumulator contract, which is
what lets the Spark layer (``outrank_spark.operators.sketch_build``)
build per-partition state in a single ``mapInPandas`` pass and fold the
partials associatively (on the driver, or in a ``treeAggregate``):

    update(values)            -- absorb a 1-D array (vectorized)
    merge(other) -> self      -- associative + commutative combine
    to_bytes() / from_bytes() -- stable wire format for merge/state
    estimate()/query(...)     -- finalizer

Re-expressed from scratch against the behavior of the reference's
sketches (``/root/reference/outrank/algorithms/sketches/``) plus the
published algorithms for the north-rule additions (KLL: Karnin, Lang,
Liberty FOCS'16; t-digest: Dunning & Ertl 2019; Bloom 1970; HLL:
Flajolet et al. 2007).
"""
from __future__ import annotations

from outrank_spark.sketches.hll import HyperLogLog, ParityHyperLogLog
from outrank_spark.sketches.cms import CountMinSketch
from outrank_spark.sketches.bloom import BloomFilter
from outrank_spark.sketches.kll import KLLSketch
from outrank_spark.sketches.tdigest import TDigest
from outrank_spark.sketches.counters import BoundedCounter
from outrank_spark.sketches.coverage import CoverageCounter
from outrank_spark.sketches.bytesize import ByteSize
from outrank_spark.sketches.rare import RareValueCounter
from outrank_spark.sketches.frequent import FrequentItems, WeightedFrequentItems
from outrank_spark.sketches.theta import ThetaSketch
from outrank_spark.sketches.countsketch import CountSketch
from outrank_spark.sketches.fd import FrequentDirections
from outrank_spark.sketches.ddsketch import DDSketch
from outrank_spark.sketches.slidinghll import SlidingHyperLogLog
from outrank_spark.sketches.countingbloom import CountingBloomFilter

SKETCH_REGISTRY = {
    "hll": HyperLogLog,
    "parity_hll": ParityHyperLogLog,
    "cms": CountMinSketch,
    "bloom": BloomFilter,
    "kll": KLLSketch,
    "tdigest": TDigest,
    "counter": BoundedCounter,
    "coverage": CoverageCounter,
    "bytes": ByteSize,
    "rare": RareValueCounter,
    "mg": FrequentItems,
    "theta": ThetaSketch,
    "countsketch": CountSketch,
    "fd": FrequentDirections,
    "ddsketch": DDSketch,
    # two-argument update (values, ts) — built via
    # sketch_build.sliding_distinct_counts, not the generic grouped
    # builder; registered for wire-format dispatch (_fold_blobs)
    "shll": SlidingHyperLogLog,
    "cbf": CountingBloomFilter,
    "wmg": WeightedFrequentItems,
}


def sketch_from_bytes(kind: str, blob: bytes):
    return SKETCH_REGISTRY[kind].from_bytes(blob)

__all__ = [
    "HyperLogLog", "ParityHyperLogLog", "CountMinSketch", "BloomFilter",
    "KLLSketch", "TDigest", "BoundedCounter", "CoverageCounter", "ByteSize",
    "RareValueCounter", "FrequentItems", "ThetaSketch", "CountSketch",
    "FrequentDirections", "DDSketch", "SlidingHyperLogLog",
    "CountingBloomFilter", "WeightedFrequentItems",
    "SKETCH_REGISTRY", "sketch_from_bytes",
]
