"""The state of a ``foreachBatch`` fold: one record, replaced atomically.

Each fold (ranking, sketches, sliding-window distinct counts) keeps
its state and the manifest of the batches it folded (``batches_seen``)
in ONE JSON file under its ``state_dir``, replaced by ``os.replace``
after each batch.  Two files could be left out of step by a crash:
a batch folded but missing from the manifest would be replayed on
restart and double-count every additive sketch.  A JSON record, unlike
a pickle, runs no code when parsed; its sketch blobs decode through
``sketch_from_bytes``, and the pickled wire formats among them through
``sketches/safe_pickle.py``, which builds values only.
"""
from __future__ import annotations

import base64
import json
import os

from outrank_spark.operators.sketch_build import SketchCollection
from outrank_spark.sketches import sketch_from_bytes

__all__ = ["FoldState", "decode_sketches", "encode_sketches"]


def encode_sketches(sketches) -> dict[str, str]:
    """``{(column, kind): sketch}`` as ``{"column\\x1fkind": base64}``."""
    return {f"{c}\x1f{k}": base64.b64encode(sk.to_bytes()).decode()
            for (c, k), sk in sketches.items()}


def decode_sketches(blobs: dict[str, str]) -> SketchCollection:
    out = SketchCollection()
    for key, blob in blobs.items():
        c, k = key.split("\x1f")
        out[(c, k)] = sketch_from_bytes(k, base64.b64decode(blob))
    return out


class FoldState:
    """A fold's batch manifest and, with a ``state_dir``, its record.

    ``kind`` names the fold in errors ("not a ranking state record");
    ``fingerprint`` is everything a restored fold must agree on."""

    def __init__(self, state_dir: str | None, file_name: str, kind: str,
                 fingerprint: str):
        self.path = os.path.join(state_dir, file_name) if state_dir else None
        self.kind = kind
        self.fingerprint = fingerprint
        self.batches_seen: list[dict] = []
        if state_dir:
            os.makedirs(state_dir, exist_ok=True)

    def load(self, keys) -> dict | None:
        """The saved record (its manifest restored), or None if there
        is none.  ``keys`` are the fold's payload keys."""
        if not self.path or not os.path.exists(self.path):
            return None
        refused = (f"{self.path} is not a {self.kind} state record; use a "
                   "fresh state_dir or rerun with the original version")
        try:
            with open(self.path, "rb") as f:
                record = json.loads(f.read())
        except ValueError as exc:  # also a pickle from an older version
            raise ValueError(refused) from exc
        if (not isinstance(record, dict)
                or set(record) != {"fingerprint", "batches_seen", *keys}):
            raise ValueError(refused)
        saved = record["fingerprint"]
        if saved != self.fingerprint:
            raise ValueError(
                f"{self.kind} checkpoint was written under a different "
                "config or sketch plan "
                f"(saved {saved!r} != current {self.fingerprint!r}); "
                "resuming would silently skip mismatched batches — use a "
                "fresh state_dir or rerun with the original config",
            )
        self.batches_seen = record["batches_seen"]
        return record

    def seen(self, batch_id: int) -> bool:
        """True for a batch already folded (replayed after a restart)."""
        return any(b["batch_id"] == batch_id for b in self.batches_seen)

    def commit(self, entry: dict, payload) -> None:
        """Add ``entry`` to the manifest and, with a ``state_dir``,
        replace the record; ``payload()`` (called only then) returns
        the fold's payload keys in the order they are written."""
        self.batches_seen.append(entry)
        if not self.path:
            return
        record = {"fingerprint": self.fingerprint, **payload(),
                  "batches_seen": self.batches_seen}
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(record, f)
        os.replace(tmp, self.path)

    def clear(self) -> None:
        """Remove the record (a finished run's state)."""
        if self.path and os.path.exists(self.path):
            os.remove(self.path)

    @staticmethod
    def attach(process_batch, stream_df, checkpoint_dir: str,
               query_name: str):
        """writeStream wiring: returns the started StreamingQuery."""
        return (
            stream_df.writeStream
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .foreachBatch(process_batch)
            .start()
        )
