"""The folds' state record (streaming/state.py) as the sketch and
sliding-window folds use it: JSON only, refused when it is not the
fold's record or was written under another fingerprint."""
from __future__ import annotations

import json
import os
import pickle

import pytest

from outrank_spark.operators.sketch_build import SketchPlan
from outrank_spark.streaming import (
    StreamingSketchAccumulator,
    StreamingSlidingDistinct,
)

_PLAN = SketchPlan(columns=["lang"], sketches={"hll": {"p": 12}})


class _CreatesFile:
    """Unpickling this object creates ``path``."""

    def __init__(self, path):
        self.path = path

    def __reduce__(self):
        return (open, (self.path, "w"))


@pytest.mark.parametrize("file_name, kind, open_fold", [
    ("sketch_state.bin", "sketch",
     lambda d: StreamingSketchAccumulator(_PLAN, state_dir=d)),
    ("shll_state.pkl", "sliding-HLL",
     lambda d: StreamingSlidingDistinct("user", "ts", p=11, state_dir=d)),
])
def test_pickled_state_is_refused_without_running_it(
        tmp_path, file_name, kind, open_fold):
    """A state file holding a pickle (an older version's state, or a
    crafted one) is refused, and loading it runs none of its code."""
    state_dir = tmp_path / "state"
    marker = tmp_path / "marker"
    os.makedirs(state_dir)
    record = {"blobs": _CreatesFile(str(marker)), "batches_seen": []}
    with open(state_dir / file_name, "wb") as f:
        pickle.dump(record, f, protocol=4)
    with pytest.raises(ValueError, match=f"not a {kind} state record"):
        open_fold(str(state_dir))
    assert not marker.exists()


def test_sketch_fold_refuses_state_of_another_plan(spark, tmp_path):
    """Blobs built under one ``SketchPlan`` are not merged into by a
    fold of another (here another HLL precision)."""
    state_dir = str(tmp_path / "state")
    df = spark.createDataFrame([("en",), ("de",)], "lang string")
    StreamingSketchAccumulator(_PLAN, state_dir=state_dir).process_batch(
        df, batch_id=0)
    other = SketchPlan(columns=["lang"], sketches={"hll": {"p": 11}})
    with pytest.raises(ValueError, match="sketch plan"):
        StreamingSketchAccumulator(other, state_dir=state_dir)
    again = StreamingSketchAccumulator(_PLAN, state_dir=state_dir)
    assert [b["batch_id"] for b in again.batches_seen] == [0]
    assert again.state[("lang", "hll")].estimate() == 2


def test_sliding_fold_state_is_one_json_record(spark, tmp_path):
    """The sliding fold's blob and manifest are one JSON record whose
    fingerprint covers its columns as well as its precision."""
    state_dir = tmp_path / "state"
    df = spark.createDataFrame([("u1", 10.0), ("u2", 20.0)],
                               "user string, sec double") \
        .selectExpr("user", "timestamp_seconds(sec) AS ts")
    mon = StreamingSlidingDistinct("user", "ts", p=11,
                                   state_dir=str(state_dir))
    mon.process_batch(df, batch_id=0)
    assert os.listdir(state_dir) == ["shll_state.pkl"]
    with open(state_dir / "shll_state.pkl") as f:
        assert set(json.load(f)) == {"fingerprint", "blobs", "batches_seen"}
    again = StreamingSlidingDistinct("user", "ts", p=11,
                                     state_dir=str(state_dir))
    assert again.sketch.to_bytes() == mon.sketch.to_bytes()
    with pytest.raises(ValueError, match="visitor"):
        StreamingSlidingDistinct("visitor", "ts", p=11,
                                 state_dir=str(state_dir))
