"""Sketch kernel tests.

Ports the reference's assertions (tests/hll_test.py, tests/cms_test.py)
onto the rebuilt kernels, plus the north-rule requirements: merge
associativity/commutativity to bitwise-equal serialized state for the
max/or/add sketches, and published error bounds (HLL 1.04/sqrt(m), CMS
eps-delta, KLL rank error, Bloom FPR).
"""
from __future__ import annotations

import numpy as np
import pytest

from outrank_spark.sketches import (
    BloomFilter,
    BoundedCounter,
    CountMinSketch,
    HyperLogLog,
    KLLSketch,
    ParityHyperLogLog,
    TDigest,
    sketch_from_bytes,
)


def _split_shuffled(values, parts, seed):
    rng = np.random.default_rng(seed)
    idx = rng.permutation(len(values))
    return [np.asarray(values)[s] for s in np.array_split(idx, parts)]


# ---------------------------------------------------------------- HLL
class TestParityHLL:
    # ref tests/hll_test.py:13-26 — exact while in warmup
    def test_update_exact_warmup(self):
        h = ParityHyperLogLog(0.01)
        h.update([123, 123])
        assert len(h) == 1
        h.update([1232])
        assert len(h) == 2
        h.update(np.arange(100) + 1232)
        assert len(h) == 101

    # ref tests/hll_test.py:28-37
    def test_stress_multi_feature(self):
        store = {j: ParityHyperLogLog(0.01) for j in range(10)}
        vals = np.arange(1000) + 1232
        for s in store.values():
            s.update(vals)
        assert all(len(s) == 1000 for s in store.values())

    # ref tests/hll_test.py:39-52 — 1% tolerance at 10k distinct
    def test_stress_high_card(self):
        h = ParityHyperLogLog(0.01)
        h.update(np.arange(10000) + 1232)
        assert abs(len(h) - 10000) < 100

    def test_post_warmup_estimator(self):
        h = ParityHyperLogLog()
        n = 400_000  # beyond warmup_limit = 262,144
        h.update(np.arange(n))
        assert h.warmup is None
        assert abs(len(h) - n) / n < 0.02  # HYPERLL_ERROR_BOUND

    @pytest.mark.parametrize("t", [1, 5])
    def test_linear_counting_error_past_warmup(self, t):
        """Past warm-up at the CLI's p=19 the estimate is linear
        counting on the bucket bitmap; its relative error stays within
        3 standard errors, sqrt(m (e^t - t - 1)) / n at load t = n / m
        (Whang, Vander-Zanden and Taylor, 1990)."""
        m = 1 << ParityHyperLogLog.P
        n = t * m
        bound = 3 * np.sqrt(m * (np.exp(t) - t - 1)) / n
        for seed in range(3):
            # n distinct, well-mixed hashes: a bijective 64-bit mix
            # (odd multiplier, then splitmix64's finaliser) of counters
            x = np.arange(n, dtype=np.uint64) + np.uint64(seed * n)
            with np.errstate(over="ignore"):
                x = x * np.uint64(0x9E3779B97F4A7C15)
                x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
                x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            x ^= x >> np.uint64(31)
            h = ParityHyperLogLog()
            for chunk in np.array_split(x, 4 * t):
                h.update_hashes(chunk)
            assert h.warmup is None
            assert abs(len(h) - n) / n <= bound, (seed, len(h), bound)

    def test_merge_matches_single_pass_bitwise(self):
        vals = np.arange(300_000)
        single = ParityHyperLogLog().update(vals)
        for parts in (2, 4, 8):
            chunks = _split_shuffled(vals, parts, seed=parts)
            merged = ParityHyperLogLog()
            for c in chunks:
                merged.merge(ParityHyperLogLog().update(c))
            assert merged.to_bytes() == single.to_bytes()
            assert len(merged) == len(single)

    def test_warmup_merge_stays_exact(self):
        a = ParityHyperLogLog().update(np.arange(100))
        b = ParityHyperLogLog().update(np.arange(50, 200))
        assert len(a.merge(b)) == 200

    def test_roundtrip(self):
        h = ParityHyperLogLog().update(np.arange(1000))
        assert len(sketch_from_bytes("parity_hll", h.to_bytes())) == 1000

    def test_reference_hash_chain_byte_parity(self):
        """hash_mode='reference' reproduces the reference's FULL hash
        chain — internal_hash = xxh32(v, seed=20141025).hexdigest()
        into the warmup set (core_utils.py:46-48), then
        xxh32(hex_token, seed=p) & (m-1) buckets
        (counting_ultiloglog.py:21-32) — so every estimate equals a
        literal simulation of HyperLogLogWCache.add()/__len__ built on
        the independently-validated scalar xxh32 (test_hashing.py),
        across the warmup boundary and through blob round-trips."""
        from tests.test_hashing import scalar_xxh32

        p, m = 8, 1 << 8
        warmup_limit = m // 2

        # literal simulation of the reference structure at small p
        warmup: set = set()
        occupied: set = set()
        hll_flag = False

        def ref_add(value: str):
            # counting_ultiloglog.py add() verbatim: the add arriving
            # with a FULL warmup set flushes it and DROPS its own
            # value (the elif branch never hashes `value`); only
            # later adds reach the registers
            nonlocal hll_flag
            hexed = format(scalar_xxh32(value.encode(), 20141025), "08x")
            if len(warmup) < warmup_limit and not hll_flag:
                warmup.add(hexed)
            elif not hll_flag:
                for el in sorted(warmup):
                    occupied.add(scalar_xxh32(el.encode(), p) & (m - 1))
                warmup.clear()
                hll_flag = True
            else:
                occupied.add(scalar_xxh32(hexed.encode(), p) & (m - 1))

        def ref_len() -> int:
            if not hll_flag:
                return len(warmup)
            empty = m - len(occupied)
            if empty == 0:
                return 1 << p
            return int(np.ceil(m * np.log(m / empty))) - 1

        h = ParityHyperLogLog(p=p, hash_mode="reference")
        vals = [f"value_{i}" for i in range(600)]   # crosses warmup at 128
        for lo in range(0, 600, 97):                # uneven batches
            batch = vals[lo:lo + 97]
            for v in batch:
                ref_add(v)
            h.update(np.array(batch, dtype=object))
            # blob round-trip must preserve the chain mid-stream
            h = ParityHyperLogLog.from_bytes(h.to_bytes())
            assert h.hash_mode == "reference"
            assert len(h) == ref_len(), f"diverged at {lo}"

    def test_reference_mode_exact_at_warmup_boundary(self):
        """Exactly warmup_limit distinct values: the reference is
        STILL in warmup and reports the exact count (the flush fires
        on the NEXT add, which also drops its own value — replicated
        element-for-element, batch splits included)."""
        p, limit = 8, (1 << 8) // 2
        h = ParityHyperLogLog(p=p, hash_mode="reference")
        h.update(np.array([f"v{i}" for i in range(limit)],
                          dtype=object))
        assert len(h) == limit          # exact, not linear-counted
        assert h.warmup is not None
        # one more add: flush fires, the trigger value is dropped —
        # occupancy equals hashing only the 128 warmup values
        h.update(np.array(["dropped"], dtype=object))
        assert h.warmup is None
        ref = ParityHyperLogLog(p=p, hash_mode="reference")
        ref.update(np.array([f"v{i}" for i in range(limit)],
                            dtype=object))
        ref.update(np.array(["also-dropped"], dtype=object))
        assert len(h) == len(ref)
        assert bytes(h.bitmap) == bytes(ref.bitmap)

    def test_reference_mode_boundary_batch_splits_agree(self):
        """The same stream fed in different batch shapes must land in
        the identical state across the warmup boundary."""
        p, limit = 8, (1 << 8) // 2
        vals = [f"x{i}" for i in range(limit + 40)]
        shapes = [[len(vals)], [limit, 40], [limit + 1, 39],
                  [97, len(vals) - 97], [1] * len(vals)]
        states = []
        for shape in shapes:
            h = ParityHyperLogLog(p=p, hash_mode="reference")
            lo = 0
            for n in shape:
                h.update(np.array(vals[lo:lo + n], dtype=object))
                lo += n
            assert h.warmup is None
            states.append((len(h), bytes(h.bitmap)))
        assert all(s == states[0] for s in states)

    def test_reference_mode_merge_guard_and_union(self):
        a = ParityHyperLogLog(p=8, hash_mode="reference") \
            .update(np.array(["x", "y"], dtype=object))
        b = ParityHyperLogLog(p=8, hash_mode="reference") \
            .update(np.array(["y", "z"], dtype=object))
        assert len(a.merge(b)) == 3
        with pytest.raises(ValueError, match="hash_mode"):
            a.merge(ParityHyperLogLog(p=8).update(np.array(["x"],
                                                           dtype=object)))


class TestStandardHLL:
    def test_small_range_near_exact(self):
        h = HyperLogLog(p=14).update(np.arange(100))
        assert abs(len(h) - 100) <= 2

    @pytest.mark.parametrize("n", [10_000, 100_000, 1_000_000])
    def test_published_bound(self, n):
        h = HyperLogLog(p=14)
        h.update(np.arange(n).astype(np.int64))
        rel = abs(h.estimate() - n) / n
        assert rel < 4 * h.relative_error  # 4 sigma of 1.04/sqrt(m)

    def test_string_values(self):
        h = HyperLogLog(p=14)
        h.update(np.array([f"user_{i}" for i in range(50_000)], dtype=object))
        assert abs(h.estimate() - 50_000) / 50_000 < 4 * h.relative_error

    def test_merge_bitwise_order_independent(self):
        vals = np.arange(200_000)
        single = HyperLogLog(p=12).update(vals)
        for parts in (2, 3, 8, 16):
            merged = HyperLogLog(p=12)
            for c in _split_shuffled(vals, parts, seed=parts * 7):
                merged.merge(HyperLogLog(p=12).update(c))
            assert merged.to_bytes() == single.to_bytes()

    def test_merge_commutative(self):
        a = HyperLogLog(p=12).update(np.arange(1000))
        b = HyperLogLog(p=12).update(np.arange(500, 2000))
        ab = HyperLogLog(p=12).merge(a).merge(b)
        ba = HyperLogLog(p=12).merge(b).merge(a)
        assert ab.to_bytes() == ba.to_bytes()

    def test_idempotent_union(self):
        a = HyperLogLog(p=12).update(np.arange(5000))
        est = a.estimate()
        a.merge(HyperLogLog(p=12).update(np.arange(5000)))
        assert a.estimate() == est

    def test_roundtrip(self):
        h = HyperLogLog(p=12).update(np.arange(7777))
        h2 = sketch_from_bytes("hll", h.to_bytes())
        assert h2.estimate() == h.estimate()


# ---------------------------------------------------------------- CMS
class TestCMS:
    def setup_method(self):
        self.cms = CountMinSketch(depth=6, width=2 ** 10)

    # ref tests/cms_test.py:25-47
    def test_add_and_query(self):
        self.cms.add("test_element")
        assert self.cms.query("test_element") >= 1
        for e in ["foo", "bar", "baz", "qux", "quux"]:
            self.cms.add(e)
        for e in ["foo", "bar", "baz", "qux", "quux"]:
            assert self.cms.query(e) >= 1

    # ref tests/cms_test.py:185-200 — accuracy on known frequencies
    def test_accuracy_known_frequencies(self):
        elements = (["a"] * 100 + ["b"] * 50 + ["c"] * 25 + ["d"] * 10)
        self.cms.update(np.array(elements, dtype=object))
        assert self.cms.query("a") >= 100
        assert self.cms.query("b") >= 50
        assert self.cms.query("c") >= 25
        assert self.cms.query("d") >= 10
        assert self.cms.query("a") <= 200
        assert self.cms.query("b") <= 100

    def test_query_nonexistent_zero(self):
        assert self.cms.query("never_added") == 0

    def test_weighted_update_fast_path(self):
        vals = np.array(["x", "y"], dtype=object)
        self.cms.update(vals, counts=np.array([7, 3]))
        assert self.cms.query("x") >= 7
        assert self.cms.query("y") >= 3

    def test_epsilon_delta_bound(self):
        # eps*N overestimate with prob >= 1-delta, on a Zipfian stream.
        rng = np.random.default_rng(42)
        vals = rng.zipf(1.3, size=100_000)
        vals = vals[vals < 10_000]
        cms = CountMinSketch(depth=6, width=2 ** 15)
        cms.update(vals)
        uniq, true_counts = np.unique(vals, return_counts=True)
        est = cms.query_many(uniq)
        assert (est >= true_counts).all()  # never underestimates
        overs = est - true_counts
        bound = cms.epsilon * len(vals)
        assert (overs <= bound).mean() >= 1 - cms.delta

    def test_merge_bitwise_order_independent(self):
        rng = np.random.default_rng(0)
        vals = rng.integers(0, 5000, size=100_000)
        single = CountMinSketch(depth=4, width=2 ** 12).update(vals)
        for parts in (2, 5, 16):
            merged = CountMinSketch(depth=4, width=2 ** 12)
            for c in _split_shuffled(vals, parts, seed=parts):
                merged.merge(CountMinSketch(depth=4, width=2 ** 12).update(c))
            assert merged.to_bytes() == single.to_bytes()

    def test_deterministic_seeds_across_instances(self):
        a = CountMinSketch().update(np.arange(100))
        b = CountMinSketch().update(np.arange(100))
        assert a.to_bytes() == b.to_bytes()

    def test_roundtrip(self):
        c = CountMinSketch(depth=3, width=64).update(np.arange(1000) % 7)
        c2 = sketch_from_bytes("cms", c.to_bytes())
        assert c2.query(3) == c.query(3)


# -------------------------------------------------------------- Bloom
class TestBloom:
    def test_no_false_negatives(self):
        bf = BloomFilter(capacity=10_000, fpr=0.01)
        vals = np.array([f"k{i}" for i in range(10_000)], dtype=object)
        bf.update(vals)
        assert bf.contains(vals).all()

    def test_fpr_bound(self):
        bf = BloomFilter(capacity=10_000, fpr=0.01)
        bf.update(np.array([f"k{i}" for i in range(10_000)], dtype=object))
        probes = np.array([f"absent{i}" for i in range(20_000)], dtype=object)
        fpr = bf.contains(probes).mean()
        assert fpr < 0.02  # 2x target

    def test_merge_bitwise_order_independent(self):
        vals = np.array([f"k{i}" for i in range(20_000)], dtype=object)
        single = BloomFilter(capacity=30_000).update(vals)
        for parts in (2, 4, 8):
            merged = BloomFilter(capacity=30_000)
            for c in _split_shuffled(vals, parts, seed=parts):
                merged.merge(BloomFilter(capacity=30_000).update(c))
            assert merged.to_bytes() == single.to_bytes()

    def test_roundtrip(self):
        bf = BloomFilter(capacity=100).update(np.array(["a", "b"], dtype=object))
        bf2 = sketch_from_bytes("bloom", bf.to_bytes())
        assert "a" in bf2 and "b" in bf2


# ---------------------------------------------------------------- KLL
class TestKLL:
    def test_exact_when_small(self):
        k = KLLSketch(k=200)
        k.update(np.arange(100, dtype=np.float64))
        assert k.quantile(0.5) == pytest.approx(50, abs=1)

    @pytest.mark.parametrize("dist", ["uniform", "lognormal", "zipfy"])
    def test_rank_error_bound(self, dist):
        rng = np.random.default_rng(7)
        n = 200_000
        if dist == "uniform":
            data = rng.uniform(0, 1, n)
        elif dist == "lognormal":
            data = rng.lognormal(5, 1, n)
        else:
            data = rng.zipf(1.5, n).astype(np.float64)
        sk = KLLSketch(k=200)
        sk.update(data)
        data_sorted = np.sort(data)
        eps = 3 * sk.rank_error
        for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
            est = sk.quantile(q)
            # value-domain check robust to atoms/ties: the estimate must
            # lie between the exact values at ranks q +- eps
            lo = data_sorted[max(0, int(np.floor((q - eps) * n)))]
            hi = data_sorted[min(n - 1, int(np.ceil((q + eps) * n)))]
            assert lo <= est <= hi

    def test_merge_rank_error_bound(self):
        rng = np.random.default_rng(11)
        data = rng.normal(0, 1, 100_000)
        merged = KLLSketch(k=200)
        for c in _split_shuffled(data, 8, seed=3):
            merged.merge(KLLSketch(k=200).update(c))
        assert merged.n == 100_000
        data_sorted = np.sort(data)
        for q in (0.1, 0.5, 0.9):
            est = merged.quantile(q)
            true_rank = np.searchsorted(data_sorted, est, side="right") / len(data)
            assert abs(true_rank - q) < 4 * merged.rank_error

    def test_roundtrip(self):
        sk = KLLSketch().update(np.arange(10_000, dtype=np.float64))
        sk2 = sketch_from_bytes("kll", sk.to_bytes())
        assert sk2.quantile(0.5) == sk.quantile(0.5)
        assert sk2.n == sk.n


# ------------------------------------------------------------ TDigest
class TestTDigest:
    def test_quantiles_uniform(self):
        rng = np.random.default_rng(5)
        data = rng.uniform(0, 100, 100_000)
        td = TDigest(delta=200).update(data)
        for q in (0.01, 0.25, 0.5, 0.75, 0.99):
            assert td.quantile(q) == pytest.approx(100 * q, abs=1.0)

    def test_tail_accuracy(self):
        rng = np.random.default_rng(6)
        data = rng.lognormal(0, 2, 200_000)
        td = TDigest(delta=200).update(data)
        data_sorted = np.sort(data)
        for q in (0.001, 0.999):
            est = td.quantile(q)
            true_rank = np.searchsorted(data_sorted, est, side="right") / len(data)
            assert abs(true_rank - q) < 0.005

    def test_merge_within_bound(self):
        rng = np.random.default_rng(8)
        data = rng.normal(50, 10, 100_000)
        merged = TDigest(delta=200)
        for c in _split_shuffled(data, 10, seed=2):
            merged.merge(TDigest(delta=200).update(c))
        data_sorted = np.sort(data)
        for q in (0.1, 0.5, 0.9):
            est = merged.quantile(q)
            true_rank = np.searchsorted(data_sorted, est, side="right") / len(data)
            assert abs(true_rank - q) < 0.02

    def test_min_max_exact(self):
        td = TDigest().update(np.array([3.0, 1.0, 9.0]))
        assert td.quantile(0.0) == 1.0
        assert td.quantile(1.0) == 9.0

    def test_roundtrip(self):
        td = TDigest().update(np.arange(5000, dtype=np.float64))
        td2 = sketch_from_bytes("tdigest", td.to_bytes())
        assert td2.quantile(0.5) == pytest.approx(td.quantile(0.5), rel=1e-9)


# ------------------------------------------------------ BoundedCounter
class TestBoundedCounter:
    def test_exact_until_bound(self):
        c = BoundedCounter(bound=100)
        c.update(np.array(["a"] * 5 + ["b"] * 3, dtype=object))
        assert c.query("a") == 5 and c.query("b") == 3

    def test_freeze_at_bound(self):
        c = BoundedCounter(bound=10)
        c.update(np.array([f"v{i}" for i in range(10)], dtype=object))
        assert c.frozen
        c.update(np.array(["new_value"], dtype=object))
        assert c.query("new_value") == 0  # frozen, ref counting_counters_ordinary.py:15-21

    def test_merge_sums(self):
        a = BoundedCounter(bound=100).update(np.array(["x", "x"], dtype=object))
        b = BoundedCounter(bound=100).update(np.array(["x", "y"], dtype=object))
        a.merge(b)
        assert a.query("x") == 3 and a.query("y") == 1

    def test_merge_truncates_deterministically(self):
        a = BoundedCounter(bound=2).update(np.array(["a"] * 5 + ["b"] * 4, dtype=object))
        b = BoundedCounter(bound=2)
        b.counts.update({"c": 3, "d": 9})
        a.merge(b)
        assert set(a.counts) == {"a", "d"}  # top-2 by count

    def test_roundtrip(self):
        c = BoundedCounter(bound=5).update(np.array(["q"] * 3, dtype=object))
        c2 = sketch_from_bytes("counter", c.to_bytes())
        assert c2.query("q") == 3


class TestHLLSetAlgebra:
    """Union / intersection / Jaccard via inclusion-exclusion."""

    def _pair(self, n_a=300_000, n_b=300_000, overlap=100_000, p=14):
        import numpy as np
        from outrank_spark.sketches.hll import HyperLogLog

        a_vals = np.arange(0, n_a).astype(str)
        b_vals = np.arange(n_a - overlap, n_a - overlap + n_b).astype(str)
        a, b = HyperLogLog(p=p), HyperLogLog(p=p)
        a.update(a_vals)
        b.update(b_vals)
        return a, b

    def test_union_is_lossless_and_nondestructive(self):
        import numpy as np
        from outrank_spark.sketches.hll import HyperLogLog, hll_union

        a, b = self._pair()
        before = a.registers.copy()
        u = hll_union(a, b)
        assert np.array_equal(a.registers, before)  # inputs untouched
        # identical to one sketch built over both streams
        single = HyperLogLog(p=14)
        single.update(np.arange(0, 300_000).astype(str))
        single.update(np.arange(200_000, 500_000).astype(str))
        assert np.array_equal(u.registers, single.registers)

    def test_intersection_within_union_scale_error(self):
        from outrank_spark.sketches.hll import hll_intersection_estimate

        a, b = self._pair()
        est = hll_intersection_estimate(a, b)
        # error budget: ~3 sigma on each of the three union-scale terms
        sigma = 1.04 / (2 ** 7)  # p=14
        assert abs(est - 100_000) <= 3 * sigma * 500_000 * 3

    def test_jaccard_and_disjoint_clamp(self):
        from outrank_spark.sketches.hll import (
            hll_intersection_estimate, hll_jaccard_estimate,
        )

        a, b = self._pair()
        assert abs(hll_jaccard_estimate(a, b) - 0.2) < 0.05
        da, db = self._pair(overlap=0)
        assert hll_intersection_estimate(da, db) >= 0  # clamped
        assert hll_jaccard_estimate(da, db) < 0.05

    def test_mismatched_precision_raises(self):
        import pytest as _pytest
        from outrank_spark.sketches.hll import HyperLogLog, hll_union

        with _pytest.raises(ValueError):
            hll_union(HyperLogLog(p=12), HyperLogLog(p=14))


class TestHllOverlapMatrix:
    def test_pairwise_overlap_any_keyset(self):
        """hll_overlap_matrix works over any key set and tracks exact
        Jaccard within HLL tolerance."""
        import numpy as np

        from outrank_spark.sketches import HyperLogLog
        from outrank_spark.sketches.hll import hll_overlap_matrix

        universes = {
            "a": {f"t{i}" for i in range(0, 6000)},
            "b": {f"t{i}" for i in range(3000, 9000)},   # |∩ a| = 3000
            "c": {f"t{i}" for i in range(20000, 26000)},  # disjoint
        }
        per_key = {}
        for k, vals in universes.items():
            h = HyperLogLog(p=14)
            h.update(np.array(sorted(vals)))
            per_key[k] = h
        rows = hll_overlap_matrix(per_key)
        assert [(r[0], r[1]) for r in rows] == [
            ("a", "b"), ("a", "c"), ("b", "c"),
        ]
        by_pair = {(r[0], r[1]): r for r in rows}
        ab = by_pair[("a", "b")]
        exact_j = 3000 / 9000
        assert abs(ab[4] - exact_j) < 0.05
        assert abs(ab[2] - 9000) / 9000 < 0.05     # union estimate
        ac = by_pair[("a", "c")]
        assert ac[4] < 0.05                         # disjoint ~ 0
        # subset selection: a 2-key matrix has exactly one pair
        assert len(hll_overlap_matrix(
            {k: per_key[k] for k in ("a", "c")})) == 1


class TestSparseHLL:
    """Sparse-mode HLL: identical estimates to dense, canonical wire,
    bitwise merge order-independence, and the blob-size win that
    justifies it for per-key grouped sketches."""

    def test_estimate_identical_to_dense_at_every_size(self):
        rng = np.random.default_rng(9)
        for n in (0, 1, 50, 1000, 20_000):
            vals = rng.integers(0, 10**12, size=n)
            d = HyperLogLog(p=12)
            s = HyperLogLog(p=12, sparse=True)
            d.update(vals)
            s.update(vals)
            assert s.estimate() == d.estimate()

    def test_promotion_threshold_and_wire_formats(self):
        s = HyperLogLog(p=10, sparse=True)  # m=1024, threshold=204
        s.update(np.arange(50))
        blob_small = s.to_bytes()
        assert blob_small[0] == 2           # sparse wire
        assert len(blob_small) < 1024       # far below dense 1 KiB
        s.update(np.arange(50, 5000))
        blob_big = s.to_bytes()
        assert blob_big[0] == 3             # dense-with-flag wire
        # round trips preserve family + estimate
        for blob in (blob_small, blob_big):
            back = HyperLogLog.from_bytes(blob)
            assert back.sparse is True
            assert back.to_bytes() == blob

    def test_bitwise_order_independence_across_mixed_reprs(self):
        rng = np.random.default_rng(4)
        chunks = [rng.integers(0, 10**9, size=n)
                  for n in (10, 3000, 7, 900)]  # some promote, some not
        images = set()
        import itertools
        for perm in itertools.permutations(range(4)):
            acc = HyperLogLog(p=10, sparse=True)
            for i in perm:
                part = HyperLogLog(p=10, sparse=True)
                part.update(chunks[i])
                acc.merge(HyperLogLog.from_bytes(part.to_bytes()))
            images.add(acc.to_bytes())
        assert len(images) == 1

    def test_sparse_vs_dense_blob_sizes(self):
        # the 10M-host scenario in miniature: tiny key -> tiny blob
        s = HyperLogLog(p=14, sparse=True)
        s.update(np.arange(100))
        d = HyperLogLog(p=14)
        d.update(np.arange(100))
        assert len(d.to_bytes()) >= 16384
        assert len(s.to_bytes()) < 1024

    def test_mixed_family_merge_promotes(self):
        rng = np.random.default_rng(11)
        a, b = rng.integers(0, 10**9, size=(2, 60))
        ref = HyperLogLog(p=10)
        ref.update(np.concatenate([a, b]))

        def build(vals, sparse):
            out = HyperLogLog(p=10, sparse=sparse)
            out.update(vals)
            return out

        for merged in (build(a, True).merge(build(b, False)),
                       build(b, False).merge(build(a, True))):
            assert merged.sparse is False
            np.testing.assert_array_equal(merged.registers, ref.registers)
            assert merged.to_bytes() == ref.to_bytes()

    def test_union_helper_handles_sparse(self):
        from outrank_spark.sketches.hll import hll_union
        a = HyperLogLog(p=10, sparse=True)
        b = HyperLogLog(p=10, sparse=True)
        a.update(np.arange(100))
        b.update(np.arange(50, 150))
        u = hll_union(a, b)
        ref = HyperLogLog(p=10, sparse=True)
        ref.update(np.arange(150))
        assert u.to_bytes() == ref.to_bytes()
