"""The ranking fold's executor functions end by evicting zip finders.

A reused PySpark worker re-reads the directory of every zip archive
with a cached ``zipimporter`` before each task; the sketch scan's
partition function, the merge tree's functions and the scoring group
function leave none cached.  Run in-process on pandas input, with a
temporary zip archive on ``sys.path`` standing in for ``pyspark.zip``.
"""
from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.types import LongType, StringType

from outrank_spark.operators.pair_scoring import _score_group
from outrank_spark.operators.sketch_build import (
    SketchPlan,
    _add_partial,
    _build_partition,
    _merge_partials,
)
from outrank_spark.operators import pack_channels

PKG = "outrank_zip_probe"


def _zip_finders() -> list[str]:
    return [path for path, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)]


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip archive on ``sys.path`` with one module imported from it
    (so its finders are cached) and one not imported yet."""
    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "")
        for name in ("first", "later"):
            z.writestr(f"{PKG}/{name}.py", f"NAME = {name!r}\n")
    sys.path.insert(0, archive)
    try:
        importlib.import_module(f"{PKG}.first")
        assert _zip_finders()
        yield
    finally:
        sys.path.remove(archive)
        for name in [m for m in sys.modules if m.split(".")[0] == PKG]:
            del sys.modules[name]
        for path in _zip_finders():
            if path.startswith(archive):
                del sys.path_importer_cache[path]


_PLAN = SketchPlan(columns=["a", "b"],
                   sketches={"hll": {"p": 10}, "counter": {}})


def _scan_partition():
    # raw string values of a and b, packed as the scan packs them
    layout = pack_channels([(("c", c), "c", c, StringType())
                            for c in _PLAN.columns])
    batch = pa.RecordBatch.from_arrays(
        [pa.array([["x", "1"], ["y", "2"], ["x", "3"]])], names=["__p0"])
    blobs = list(_build_partition(_PLAN, layout)(iter([batch])))
    assert len(blobs) == 1 and len(blobs[0]) == len(_PLAN.keys())


def _merge_tree():
    sk = _PLAN.make("counter").update(np.array(["x", "y"]))
    row = {"column": "a", "kind": "counter", "blob": sk.to_bytes()}
    acc = _add_partial({}, row)
    _merge_partials(acc, _add_partial({}, row))
    assert acc[("a", "counter")].query("x") == 2


def _score_minibatch():
    rng = np.random.default_rng(0)
    n = 64
    good = rng.integers(0, 4, n)
    columns = ["label", "good", "noise"]
    # the three features' values, packed as score_batches packs them
    layout = pack_channels([(c, "value", c, LongType()) for c in columns])
    values = np.column_stack([good % 2, good, rng.integers(0, 4, n)])
    table = pa.table({"__p0": pa.array(values.tolist(), pa.list_(pa.int64())),
                      "_rk": np.arange(n), "batch_id": np.full(n, 3)})
    fn = _score_group(layout, columns,
                      [("label", "good"), ("label", "noise")],
                      "MI-numba-randomized", "label", 1.0, ())
    out = fn(table).to_pandas()
    assert out["batch_id"].tolist() == [3, 3]
    assert out["feature_b"].tolist() == ["good", "noise"]


@pytest.mark.parametrize("task", [_scan_partition, _merge_tree,
                                  _score_minibatch],
                         ids=["sketch_scan", "merge_tree", "scoring"])
def test_task_function_leaves_no_zip_finder(zip_on_path, task):
    task()
    assert _zip_finders() == []
    # an evicted finder is rebuilt on demand: the archive still imports
    assert importlib.import_module(f"{PKG}.later").NAME == "later"
