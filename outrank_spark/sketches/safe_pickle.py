"""Restricted decoding of the pickled sketch wire formats.

The ``counter``, ``rare``, ``kll``, ``mg`` and ``wmg`` blobs are
protocol-4 pickles of plain state: dicts, lists, strings, bytes and
numbers, which pickle as opcodes, plus the column values a sketch
counts.  They also come back from the folds' state files
(``streaming/state.py``), so :func:`loads` resolves only the globals those values need; any
other global (a callable that opens a file, starts a process, ...)
raises ``ValueError`` before it runs.
"""
from __future__ import annotations

import io
import pickle

__all__ = ["loads"]

# module -> the names a sketch state may reference
_ALLOWED = {
    # numpy scalars (numpy 1.x and 2.x module paths) and their dtypes
    "numpy": {"dtype"},
    "numpy.core.multiarray": {"scalar"},
    "numpy._core.multiarray": {"scalar"},
    # DATE, TIME, TIMESTAMP, interval and DECIMAL column values
    "datetime": {"date", "datetime", "time", "timedelta"},
    "decimal": {"Decimal"},
    "pandas._libs.tslibs.timestamps": {"_unpickle_timestamp"},
    "pandas._libs.tslibs.timedeltas": {"_timedelta_unpickle"},
}


class _StateUnpickler(pickle.Unpickler):
    def find_class(self, module: str, name: str):
        if name not in _ALLOWED.get(module, ()):
            raise ValueError(
                f"sketch state references {module}.{name}, which is not "
                "a value type a sketch holds; refusing to load it")
        return super().find_class(module, name)


def loads(blob: bytes):
    """``pickle.loads`` that builds only sketch-state values."""
    return _StateUnpickler(io.BytesIO(blob)).load()
