"""Helpers shared by the ranking fold's executor functions: zip-finder
eviction, and the packed inputs of the sketch scan and the scoring.

The sketch scan and the scoring feed their Python functions one value
per (feature, channel).  Classic PySpark resolves every input column of
a ``mapInArrow``/``applyInArrow`` call by name on the driver
(``udf(*[df[col] for col in df.columns])``), about three py4j round
trips per column, so one Spark column per channel makes building the
plan grow with the feature count.  Instead :func:`pack_channels` puts
every channel of one kind and one element type into a slot of one
``array(...)`` column, and :func:`unpack_channels` takes the slots
apart again at the Arrow level (``pyarrow.compute.list_element``).

Each slot then reaches pandas exactly as its own column would reach a
``mapInPandas``/``applyInPandas`` function: the same values, row order,
dtype and nulls, converted by Spark's own per-column rule (an integer
slot turns float64 only when *that* slot holds a null).  Channels of
other types (date, timestamp, decimal, nested) keep one column each.
The packed columns have fixed names (``__p0``, ``__p1``, ...), so
feature names never reach Spark's column resolver.
"""
from __future__ import annotations

import sys
import zipimport
from dataclasses import dataclass
from typing import Any, Hashable, Sequence

# element types (``DataType.typeName()``) whose per-slot pandas
# conversion is pyarrow's own; other types keep a column each
_PACKABLE = frozenset({"string", "boolean", "byte", "short", "integer",
                       "long", "float", "double"})


def evict_zip_finders() -> None:
    """Drop every ``zipimport.zipimporter`` from ``sys.path_importer_cache``.

    The ranking fold's executor functions (the sketch scan's partition
    function, the sketch merge tree's functions, the scoring group
    function) call this last.  A reused PySpark Python worker calls
    ``importlib.invalidate_caches()`` before every task
    (``pyspark/worker_util.py:144``, ``setup_spark_files``), and on
    CPython 3.11 each cached zip finder's ``invalidate_caches`` re-reads
    its archive's whole directory (``zipimport.py:329-336``).  A worker
    holds one such finder per imported ``pyspark.zip`` subpackage plus
    one for the spark-core jar: ~26.7k directory entries and 0.25-0.33 s
    of CPU per Python task, paid before any task code runs.  Evicting
    the finders at the end of a task leaves the next task's
    invalidation nothing to re-read; an import that needs an evicted
    finder gets a new one from ``sys.path_hooks``, built from the
    directory that ``zipimport`` already holds in memory.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def column_types(df):
    """Lookup of the Spark type of ``df``'s column ``name``; like
    Spark's resolver by default, it falls back to a case-insensitive
    match."""
    exact = {f.name: f.dataType for f in df.schema.fields}
    folded: dict[str, Any] = {}
    for name, dtype in exact.items():
        folded.setdefault(name.lower(), dtype)
    return lambda name: (exact[name] if name in exact
                         else folded[name.lower()])


@dataclass(frozen=True)
class Layout:
    """Where each channel travels: ``exprs`` is the SQL select list,
    ``slots`` maps a channel key to (column position, slot in that
    column's array or None for a column of its own, Spark type)."""

    exprs: tuple[str, ...]
    slots: dict[Hashable, tuple[int, int | None, Any]]
    timezone: str | None = None


def pack_channels(channels: Sequence[tuple[Hashable, str, str, Any]],
                  session=None) -> Layout:
    """Lay out ``(key, kind, sql_expr, spark_type)`` channels: one
    ``array(...)`` column per (kind, element type), one column each for
    types that are not packed.  ``session`` is asked for its time zone
    only when such a column exists (Spark converts timestamps with it)."""
    groups: dict[tuple[str, str], list] = {}
    own = []
    for key, kind, expr, dtype in channels:
        if dtype.typeName() in _PACKABLE:
            groups.setdefault((kind, dtype.simpleString()), []).append(
                (key, expr, dtype))
        else:
            own.append((key, expr, dtype))
    exprs, slots = [], {}
    for members in groups.values():
        pos = len(exprs)
        exprs.append("array(" + ", ".join(e for _, e, _ in members)
                     + f") AS __p{pos}")
        for slot, (key, _, dtype) in enumerate(members):
            slots[key] = (pos, slot, dtype)
    for key, expr, dtype in own:
        slots[key] = (len(exprs), None, dtype)
        exprs.append(f"{expr} AS __p{len(exprs)}")
    timezone = (session.conf.get("spark.sql.session.timeZone")
                if own and session is not None else None)
    return Layout(tuple(exprs), slots, timezone)


def unpack_channels(columns: Sequence, layout: Layout) -> dict:
    """{channel key: pandas Series} from the Arrow columns (arrays or
    chunked arrays) of a batch laid out by ``layout``, each converted
    as Spark converts a column for a pandas UDF
    (``ArrowStreamPandasSerializer.arrow_to_pandas``)."""
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    converters: dict = {}
    out = {}
    for key, (pos, slot, dtype) in layout.slots.items():
        arr = columns[pos]
        if slot is not None:
            arr = pc.list_element(arr, slot)
        convert = converters.get(dtype)
        if convert is None:
            convert = converters[dtype] = _create_converter_to_pandas(
                dtype, nullable=True, timezone=layout.timezone,
                struct_in_pandas="dict", error_on_duplicated_field_names=True)
        out[key] = convert(arr.to_pandas(date_as_object=True,
                                         coerce_temporal_nanoseconds=True))
    return out
