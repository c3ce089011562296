"""Encoded-size accumulator: mean UTF-8 bytes per value, mergeable.

Counterpart of the reference's ``compute_feature_memory_consumption``
(core_ranking.py:394-406), which averages the encoded size of each
feature's values on the subsampled minibatches.  The sketch scan feeds
it the JVM's ``octet_length`` of each value's string form; nulls are
skipped, as SQL ``avg`` skips them.  The state is a (byte sum, value
count) pair, merge is integer addition and the wire format is fixed
width, so the mean is exact and independent of partitioning.
"""
from __future__ import annotations

import struct

import pandas as pd

__all__ = ["ByteSize"]

_WIRE = struct.Struct("<QQ")


class ByteSize:
    kind = "bytes"

    def __init__(self):
        self.total = 0
        self.count = 0

    def update(self, lengths) -> "ByteSize":
        """Absorb per-value byte lengths; nulls are not counted."""
        s = pd.Series(lengths).dropna()
        self.total += int(s.sum())
        self.count += len(s)
        return self

    def merge(self, other: "ByteSize") -> "ByteSize":
        self.total += other.total
        self.count += other.count
        return self

    def mean(self) -> float:
        """Mean bytes per non-null value (0.0 when there is none)."""
        return self.total / self.count if self.count else 0.0

    def to_bytes(self) -> bytes:
        return _WIRE.pack(self.total, self.count)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "ByteSize":
        out = cls()
        out.total, out.count = _WIRE.unpack(blob)
        return out
