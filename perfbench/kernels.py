"""Kernel microbenchmarks: the MI estimator and the two sketch
updates the ranking job runs per value, timed in this process with no
Spark session, on inputs generated from the workload seed."""
from __future__ import annotations

import time

import numpy as np

from perfbench.stats import median

BATCH_ROWS = 2 ** 14          # the reference's minibatch size
LABEL_CARD = 8                # pages: 8 languages
# candidate cardinalities spanning the pages features (tld .. host AND day)
FEATURE_CARDS = (50, 256, 1000, 4320, 25_000)
HLL_P = 16
COUNTER_BOUND = 30_000


def _zipf_codes(rng, n: int, card: int) -> np.ndarray:
    w = 1.0 / np.arange(1, card + 1) ** 1.1
    return rng.choice(card, size=n, p=w / w.sum()).astype(np.int64)


def _repeat(fn, min_seconds: float, min_reps: int) -> list[float]:
    times = []
    t_end = time.perf_counter() + min_seconds
    while len(times) < min_reps or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return times


def mi_pair_us(seed: int, min_seconds: float = 0.4) -> float:
    """Median microseconds per ``mutual_info_estimator`` call
    (MI-numba-randomized: cardinality correction on) over one
    2^14-row batch, candidate vs label."""
    from outrank_spark.functions.mi import mutual_info_estimator

    rng = np.random.default_rng([seed, 1])
    label = _zipf_codes(rng, BATCH_ROWS, LABEL_CARD)
    feats = [_zipf_codes(rng, BATCH_ROWS, c) for c in FEATURE_CARDS]

    def sweep():
        for f in feats:
            mutual_info_estimator(f, label, 1.0, True)

    times = _repeat(sweep, min_seconds, 5)
    return median(times) / len(feats) * 1e6


def parity_hll_update_ns(seed: int, min_seconds: float = 0.3) -> float:
    """Median ns per value of ``ParityHyperLogLog.update_hashes`` fed
    four 2^14-value batches whose distinct count crosses the warmup
    limit (2^p / 2), as a near-unique interaction column does."""
    from outrank_spark.hashing import splitmix64
    from outrank_spark.sketches.hll import ParityHyperLogLog

    rng = np.random.default_rng([seed, 2])
    n = 4 * BATCH_ROWS
    vals = rng.integers(0, 2 ** HLL_P, size=n).astype(np.uint64)
    hashes = splitmix64(vals)
    batches = np.split(hashes, 4)

    def build():
        sk = ParityHyperLogLog(p=HLL_P)
        for b in batches:
            sk.update_hashes(b)

    return median(_repeat(build, min_seconds, 5)) / n * 1e9


def counter_update_ns(seed: int, min_seconds: float = 0.3) -> float:
    """Median ns per value of ``BoundedCounter.update`` on 2^14-value
    batches of Zipf-distributed host names."""
    from outrank_spark.sketches.counters import BoundedCounter

    rng = np.random.default_rng([seed, 3])
    n = 4 * BATCH_ROWS
    hosts = np.array([f"site{h:04d}.com" for h in range(1000)], dtype=object)
    batches = np.split(hosts[_zipf_codes(rng, n, len(hosts))], 4)

    def build():
        sk = BoundedCounter(bound=COUNTER_BOUND)
        for b in batches:
            sk.update(b)

    return median(_repeat(build, min_seconds, 5)) / n * 1e9


def run_all(seed: int) -> dict[str, float]:
    return {
        "functions.mi.pair_us": mi_pair_us(seed),
        "sketches.parity_hll_update_ns": parity_hll_update_ns(seed),
        "sketches.counter_update_ns": counter_update_ns(seed),
    }
