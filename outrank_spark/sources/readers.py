"""Source readers for the reference's four dataset layouts
(core_utils.py:101-118 dispatch) — each returns a Spark DataFrame of
string feature columns plus the resolved numeric-column set.

| source       | layout                                            |
|--------------|---------------------------------------------------|
| csv-raw      | data.csv with a header row, latin1               |
| ob-csv       | data.csv + dataset_desc.json typed descriptor     |
| ob-vw        | sparse Vowpal-Wabbit lines + vw_namespace_map.csv |
| ob-raw-dump  | raw_data/1_train/* TSV shards + header file       |

Both CSV layouts share one read path (:func:`_read_csv`) that always
checks line width: each pass parses a line once, lines whose width
differs from the header's are dropped from ``df`` and kept as
``DatasetInfo.invalid_lines``, and the first full pass counts them
(reference core_ranking.py:641-653).

The vw reader is the other nontrivial one: sparse ``|NS v1 v2`` groups
pivot to dense named columns through the namespace map
(core_utils.py:161-201 semantics).  Lines stream through
``spark.read.text`` + ``mapInPandas`` — the group split is pandas
str ops; the namespace pivot is per-row inside the Arrow batch (it is
a parser for an esoteric text format, not a hot-path operator).
Spark reads .gz natively; ``.zst`` has no Hadoop codec in this build
(``CODEC_NOT_AVAILABLE``), so :func:`read_zst_lines` decodes zstd
frames with pyarrow's bundled codec inside ``mapInPandas`` —
parallelism is per-file, the same contract as Spark's unsplittable
gzip path (reference core_ranking.py:625-632 reads .zst serially on
one core, so this is a strict upgrade).
"""
from __future__ import annotations

import csv
import json
import os
from dataclasses import dataclass, field
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from outrank_spark.hashing import sql_ident

__all__ = ["DatasetInfo", "read_csv_raw", "read_ob_csv", "read_ob_vw",
           "read_ob_raw_dump", "parse_namespace_file", "read_dataset",
           "read_zst_lines",
           "invalid_line_summary"]

_INVALID_QUEUE_LEN = 2 ** 5  # reference deque maxlen (core_ranking.py:609)


@dataclass
class DatasetInfo:
    df: DataFrame
    column_names: list[str]
    numeric_columns: set[str] = field(default_factory=set)
    fw_map: dict[str, str] | None = None
    # wrong-width csv lines (lazy relation of raw ``line`` strings;
    # None for sources without a line-width check)
    invalid_lines: DataFrame | None = None
    # their count ``{"n": ...}``, observed by the first full pass
    invalid_count: Observation | None = None


def _require_local_file(path: str, what: str) -> None:
    """The csv readers peek at the header with a driver-side ``open``,
    so they accept exactly one LOCAL file — not globs, directories, or
    remote URIs (hdfs://, s3://...), which ``spark.read`` would happily
    take but whose first line the driver cannot read (and whose
    per-file headers a single byte-match could not exclude).  Fail
    loudly up front instead of a confusing FileNotFoundError later."""
    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            f"{what} requires a local file; got remote URI {path!r}. "
            "Stage the file locally or use the parquet/Iceberg readers "
            "for distributed storage.",
        )
    local = path[len("file://"):] if path.startswith("file://") else path
    if any(ch in local for ch in "*?[") or os.path.isdir(local):
        raise ValueError(
            f"{what} requires a single local CSV file; got glob or "
            f"directory {path!r} (the header is read driver-side, and "
            "per-file header exclusion is undefined across files).",
        )
    if not os.path.isfile(local):
        raise FileNotFoundError(f"{what}: no such file {path!r}")


def read_zst_lines(spark: SparkSession, path: str) -> DataFrame:
    """Line relation from ``.zst`` files without a Hadoop codec jar:
    ``binaryFile`` ships each file's bytes to one task, and pyarrow's
    bundled zstd codec stream-decodes frames inside ``mapInPandas``.

    Scale contract: zstd frames are not splittable (exactly like
    Spark's native gzip text path), so parallelism == file count —
    many medium .zst shards parallelize; one giant file is one task
    either way, jar or no jar.  Lines keep the reference's semantics
    (\n split, trailing \r stripped, no trailing empty line)."""
    bf = spark.read.format("binaryFile").load(path)

    chunk_bytes = 32 << 20  # decode window; bounds worker memory

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa

        for pdf in batches:
            for content in pdf["content"]:
                # stream the decompression in bounded chunks — one
                # .read() of the whole file would hold decompressed
                # bytes + decoded str + a per-line list all at once
                # (3-4x the decompressed size resident in one task)
                stream = pa.CompressedInputStream(
                    pa.BufferReader(bytes(content)), "zstd",
                )
                tail = b""
                while True:
                    block = bytes(stream.read(chunk_bytes))
                    if not block:
                        break
                    data = tail + block
                    cut = data.rfind(b"\n")
                    if cut < 0:
                        tail = data
                        continue
                    tail = data[cut + 1:]
                    lines = data[:cut].decode(
                        "iso-8859-1", errors="replace",
                    ).split("\n")
                    yield pd.DataFrame(
                        {"value": [ln.rstrip("\r") for ln in lines]},
                    )
                if tail:  # last line without trailing newline
                    yield pd.DataFrame(
                        {"value": [tail.decode("iso-8859-1",
                                               errors="replace")
                                   .rstrip("\r")]},
                    )

    return bf.select("content").mapInPandas(fn, schema="value string")


def _read_csv(spark: SparkSession, path: str) -> DatasetInfo:
    """The one CSV read path: wrong-width lines split out (reference
    core_ranking.py:648-653 keeps lines whose parsed width matches the
    header and queues the rest).

    ONE ``text`` scan + a ``from_csv`` corrupt-record expression drives
    both relations, so valid and invalid lines get the SAME parser
    verdict.  Spark's native CSV source is not used: with column
    pruning it stops checking the width of fields a query does not
    read (wrong-width lines pass as valid when only ``label`` is
    selected), its DROPMALFORMED null-pads under-width lines, and a
    query of its corrupt-record column alone raises
    QUERY_ONLY_CORRUPT_RECORD_COLUMN; ``from_csv`` is an expression,
    exempt from all three.

    Where ``from_csv`` runs: once per line per pass, in the projection
    right above the scan.  Its struct is expanded by a Generate
    (``inline``) over EVERY line, which carries the raw line along
    under the reserved name ``_line`` (the corrupt column is ``_c``);
    only then are lines filtered.  Catalyst inlines ``from_csv`` into
    every ``p.field`` access and every filter over one, so any
    expression reading the struct above the scan would parse again
    (k fields read = k parsers per line); it pushes nothing that
    reads the Generate's output below the Generate, so the subsample
    hash and the ``_c`` test stay above it.  The header test reads
    only ``_line`` and is pushed below the Generate.

    * valid rows (``df``): ``_c`` null, header line excluded (any data
      line byte-identical to the header is dropped too — documented
      divergence from the reference's skip-first-line, negligible on
      real data);
    * invalid rows (``invalid_lines``): ``_c`` set, or an empty line
      under a header of more than one column (``from_csv`` reads it as
      one null field without flagging it); the ORIGINAL line is
      reported like the reference's invalid_line_queue.

    The invalid count is observed as well as queried: one
    ``Observation`` (``invalid_count``) counts the invalid lines among
    the parsed lines, below every filter.  Spark pushes no filter
    through it, so the first action to complete over either relation
    records the count of the lines that flowed through it: exact after
    one full pass (a count, the sketch scan, an aggregate), partial
    after a partial action (``first()``, or ``limit(k)`` with no
    aggregate below it), and a multiple after an action that evaluates
    the lines twice (a sort samples its input for range partitioning
    first).
    :func:`invalid_line_summary` reads it only when its caller says the
    first action was one full pass.

    Contract: ``path`` must be one local file (enforced) — the header
    line is read driver-side and excluded by byte-match, which is only
    well-defined for a single file.
    """
    _require_local_file(path, "csv read")
    with open(path, encoding="iso-8859-1", newline="") as f:
        raw_header = f.readline().rstrip("\r\n")
    header = next(csv.reader([raw_header]))
    schema = ", ".join(f"{sql_ident(c)} string" for c in header)
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_c"}
    # spark.read.text splits on \n and keeps a trailing \r from CRLF
    # files — strip it, or the header byte-match misses and the last
    # field of every row carries \r
    line = F.regexp_replace(F.col("value"), "\r$", "")
    # an empty line parses to one null field and no corrupt record:
    # the wrong width unless the header has one column
    empty = (F.col("_line") == "") if len(header) > 1 else F.lit(False)
    invalid_count = Observation()
    parsed = (
        spark.read.text(path)
        .select(line.alias("_line"),
                F.from_csv(line, schema + ", `_c` string", opts).alias("p"))
        .observe(invalid_count,
                 F.count_if(F.col("p._c").isNotNull() | empty).alias("n"))
        .select("_line", F.inline(F.array("p")))
    )
    bad = F.col("_c").isNotNull() | empty
    valid = (
        parsed.filter(~bad & (F.col("_line") != raw_header))
        .drop("_c", "_line")
    )
    invalid = parsed.filter(bad).select(F.col("_line").alias("line"))
    return DatasetInfo(df=valid, column_names=header, invalid_lines=invalid,
                       invalid_count=invalid_count)


def invalid_line_summary(info: DatasetInfo,
                         max_samples: int = _INVALID_QUEUE_LEN,
                         observed: bool = False,
                         ) -> tuple[int, list[str]]:
    """(count, up to ``max_samples`` raw lines) — the reference's
    ``invalid_lines`` counter + bounded ``invalid_line_queue``.

    ``observed=True`` says the first action to complete over
    ``info``'s lines was one full pass (the CLI's fold is); the count
    is then read from ``info.invalid_count`` without a job once that
    pass has completed.  Otherwise, or when no pass has completed yet
    (a checkpoint resume that finds every slice done runs none), the
    lines are counted here; the summary never waits for a pass.  The
    samples are collected only when a line is invalid."""
    if info.invalid_lines is None:
        return 0, []
    seen = info.invalid_count
    # PySpark's ``Observation.get`` blocks until an action completes;
    # the JVM observation's future tells without waiting
    if observed and seen is not None and seen._jo.future().isCompleted():
        count = seen.get["n"]
    else:
        count = info.invalid_lines.count()
    if not count:
        return 0, []
    return count, [r["line"] for r in
                   info.invalid_lines.limit(max_samples).collect()]


def read_csv_raw(spark: SparkSession, data_path: str) -> DatasetInfo:
    """Header-row CSV folder (core_utils.py:389-400)."""
    return _read_csv(spark, os.path.join(data_path, "data.csv"))


def read_ob_csv(spark: SparkSession, data_path: str) -> DatasetInfo:
    """CSV + dataset_desc.json typed descriptor (core_utils.py:369-386)."""
    with open(os.path.join(data_path, "dataset_desc.json")) as f:
        desc = json.load(f)
    column_names, numeric = [], set()
    for feature in desc.get("data_features", []):
        name = feature.get("name")
        column_names.append(name)
        if "float" in feature.get("type", "").lower():
            numeric.add(name)
    info = _read_csv(spark, os.path.join(data_path, "data.csv"))
    info.column_names, info.numeric_columns = column_names, numeric
    return info


def parse_namespace_file(namespace_path: str) -> tuple[set[str], dict[str, str]]:
    """vw_namespace_map.csv -> (float feature set, fw_id -> feature)
    (core_utils.py:245-268 semantics, incl. the no-underscore 2-part
    rule and silently skipped malformed lines)."""
    float_set: set[str] = set()
    id_feature_map: dict[str, str] = {}
    with open(namespace_path) as nm:
        for line in nm:
            try:
                parts = line.strip().split(",")
                if len(parts) == 2 and "_" not in parts[0]:
                    fw_id, feature = parts
                    type_name = "generic"
                elif len(parts) == 3:
                    fw_id, feature, type_name = parts
                else:
                    continue
                id_feature_map[fw_id] = feature
                if type_name == "f32":
                    float_set.add(feature)
            except Exception:
                pass
    return float_set, id_feature_map


def read_ob_vw(spark: SparkSession, data_path: str,
               include_namespace_info: bool = False) -> DatasetInfo:
    """Sparse VW lines -> dense named string columns."""
    float_set, fw_map = parse_namespace_file(
        os.path.join(data_path, "vw_namespace_map.csv"),
    )
    column_names = ["label"] + list(fw_map.values())

    candidates = [
        os.path.join(data_path, n)
        for n in ("data.vw.gz", "data.vw", "data.vw.zst")
    ]
    data_file = next((c for c in candidates if os.path.exists(c)), None)
    if data_file is None:
        raise NotImplementedError(
            "Please provide data.vw[.gz] — .zst needs a codec jar",
        )
    if data_file.endswith(".zst"):
        # no Hadoop zstd codec in this build — decode via pyarrow
        lines = read_zst_lines(spark, data_file)
    else:
        lines = spark.read.text(data_file)
    schema = ", ".join(f"`{c}` string" for c in column_names)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            s = pdf["value"].astype(str).str.strip()
            groups = s.str.split("|")
            label = groups.str[0].str.split(" ").str[0]
            out = {"label": label}
            # namespace -> joined values per row (vectorized per column)
            maps = groups.map(_row_namespace_map)
            for col in column_names[1:]:
                vals = maps.map(lambda m, c=col: m.get(c))
                if not include_namespace_info:
                    vals = vals.map(
                        lambda v: v[2:] if isinstance(v, str) else None,
                    )
                out[col] = vals
            yield pd.DataFrame(out)

    def _row_namespace_map(parts: list[str]) -> dict[str, str]:
        m = {}
        for grp in parts[1:]:
            core = grp.strip().split(" ")
            ns = core[0]
            feature = fw_map.get(ns)
            if feature is not None:
                m[feature] = "-".join(x for x in core[1:] if x != "")
        return m

    df = lines.mapInPandas(parse, schema=schema)
    return DatasetInfo(df=df, column_names=column_names,
                       numeric_columns=float_set, fw_map=fw_map)


def read_ob_raw_dump(spark: SparkSession, data_path: str) -> DatasetInfo:
    """TSV shard glob + tab-separated header file (core_utils.py:311-346).
    Spark reads the shard glob natively — no concat/re-dump step."""
    header_path = os.path.join(data_path, "raw_data", "0_header", "header.csv")
    with open(header_path, encoding="utf-8") as f:
        column_names = f.read().strip().split("\t")
    df = (
        spark.read.option("sep", "\t")
        .csv(os.path.join(data_path, "raw_data", "1_train", "*"))
        .toDF(*column_names)
    )
    return DatasetInfo(df=df, column_names=column_names)


_READERS = {
    "csv-raw": read_csv_raw,
    "ob-csv": read_ob_csv,
    "ob-vw": read_ob_vw,
    "ob-raw-dump": read_ob_raw_dump,
}


def read_dataset(spark: SparkSession, data_path: str,
                 data_source: str) -> DatasetInfo:
    """Dispatch on the reference's ``data_source`` name.  The csv
    sources drop wrong-width lines and expose them as
    ``invalid_lines``."""
    if data_source not in _READERS:
        raise ValueError(
            f"unknown data source {data_source!r}; one of {sorted(_READERS)}",
        )
    return _READERS[data_source](spark, data_path)
