"""Driver-contract smoke: every queries() entry runs at sf0.001 and
returns a DataFrame with a stable, non-empty schema; every oracle key
points at a registered query.  (The driver runs the full DuckDB
comparison at sf0.01 — tools/check_oracles.py replicates it; this is
the fast always-on guard against a broken registration.)
"""
from __future__ import annotations

import ast
from pathlib import Path

import pytest

SF = "/root/testdata/sf0.001"
ROOT = Path(__file__).resolve().parents[1]


def _headline(path: Path) -> list[str]:
    """A script's ``HEADLINE`` list, read without running the script."""
    for node in ast.parse(path.read_text()).body:
        if (isinstance(node, ast.Assign)
                and any(getattr(t, "id", None) == "HEADLINE"
                        for t in node.targets)):
            return ast.literal_eval(node.value)
    raise AssertionError(f"{path} has no HEADLINE list")


class TestDriverContract:
    def test_oracle_keys_subset_of_queries(self):
        from outrank_spark.plans.queries import ORACLES, QUERIES

        assert set(ORACLES) <= set(QUERIES)
        # every oracle is non-trivial SQL
        for sql in ORACLES.values():
            assert "SELECT" in sql.upper()

    @pytest.mark.slow
    def test_every_query_runs_at_sf0001(self, spark):
        from outrank_spark.plans.queries import QUERIES

        for name, fn in QUERIES.items():
            df = fn(spark, SF)
            rows = df.collect()
            assert df.schema.fieldNames(), name
            assert rows is not None, name

    @pytest.mark.parametrize("script", ["bench.py",
                                        "tools/profile_queries.py"])
    def test_headline_queries_are_registered(self, script):
        from outrank_spark.plans.queries import QUERIES

        headline = _headline(ROOT / script)
        assert headline
        assert set(headline) <= set(QUERIES), (
            sorted(set(headline) - set(QUERIES)))

    def test_entry_contract(self, spark):
        import __spark_entry__ as e

        assert callable(e.entry)
        qs, oracles = e.queries(), e.oracle_sql()
        assert len(qs) >= 44
        assert set(oracles) <= set(qs)


class TestDriverWindowInvariant:
    """The correctness driver records only the FIRST 50 registry
    entries — these invariants stop a future edit from silently
    pushing exact-oracle queries out of the recorded window
    (r4 verdict #9)."""

    def test_every_exact_precedes_every_rows_only(self):
        from outrank_spark.plans.queries import ORACLES, QUERIES

        keys = list(QUERIES)
        last_exact = max(i for i, k in enumerate(keys) if k in ORACLES)
        first_rows = min((i for i, k in enumerate(keys)
                          if k not in ORACLES), default=len(keys))
        assert last_exact < first_rows, (
            f"exact query {keys[last_exact]} ordered after rows-only "
            f"{keys[first_rows]} — it would fall outside the driver's "
            "correctness window")

    def test_rotation_marker_heads_the_registry(self):
        from outrank_spark.plans.queries import (QUERIES,
                                                 WINDOW_ROTATION_START)

        assert next(iter(QUERIES)) == WINDOW_ROTATION_START

    def test_window_is_all_exact(self):
        from outrank_spark.plans.queries import ORACLES, QUERIES

        window = list(QUERIES)[:50]
        assert all(k in ORACLES for k in window)


class TestDecimalHygiene:
    """No queries() entry may emit a DecimalType column (r5 verdict
    #1/#2): a Spark decimal surfaces in pandas as decimal.Decimal
    whose rendering ("177488.20") differs from the float64 a DuckDB
    decimal fetch produces ("177488.2"), so a rendered-value hash
    goes red even when every value is numerically equal.  Decimals
    are fine INSIDE a query (exact, order-independent money sums) —
    the contract is on the output boundary: cast to double (and
    round) before returning."""

    @pytest.mark.slow
    def test_no_decimal_output_columns(self, spark):
        from pyspark.sql.types import DecimalType

        from outrank_spark.plans.queries import QUERIES

        offenders = []
        for name, fn in QUERIES.items():
            df = fn(spark, SF)
            decs = [f.name for f in df.schema.fields
                    if isinstance(f.dataType, DecimalType)]
            if decs:
                offenders.append((name, decs))
        assert not offenders, (
            f"queries emitting DecimalType at the output boundary: "
            f"{offenders} — cast to double (see q107)")


class TestReaderMemo:
    def test_hit_rebinds_plan_to_session(self, spark, tmp_path):
        from outrank_spark.plans.queries import load

        spark.range(3).write.parquet(str(tmp_path / "t.parquet"))
        a = load(spark, str(tmp_path), "t")
        b = load(spark, str(tmp_path), "t")
        assert b._jdf is a._jdf and b.sparkSession is spark
        assert b.count() == 3

    def test_dropped_session_is_collected(self):
        """The memo must not keep a session alive, although the
        DataFrame it returns refers to its session."""
        import gc
        import weakref

        from outrank_spark.plans.queries import _READER_MEMO, load

        class FakeSession:
            _sc = None

            def __init__(self):
                self.read = self

            def parquet(self, path):
                return FakeFrame()

        class FakeFrame:
            _jdf = object()

        session = FakeSession()
        df = load(session, "dir", "t")
        assert df.sparkSession is session and session in _READER_MEMO
        ref = weakref.ref(session)
        del session, df
        gc.collect()
        assert ref() is None
