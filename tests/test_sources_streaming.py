"""Source reader tests (ports of tests/data_io_test.py) + Structured
Streaming sketch accumulation tests.
"""
from __future__ import annotations

import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from outrank_spark.operators.sketch_build import SketchPlan, build_sketches
from outrank_spark.sources.readers import (
    parse_namespace_file,
    read_csv_raw,
    read_dataset,
    read_ob_csv,
    read_ob_vw,
)
from outrank_spark.streaming import StreamingSketchAccumulator


class TestNamespaceParse:
    # ref tests/data_io_test.py vw namespace fixture
    def test_parse(self, tmp_path):
        path = tmp_path / "vw_namespace_map.csv"
        path.write_text("AE,f1,f32\nAK,f2,f32\nAs,f3,f32\nAR,f4,\nAe,f5,\n")
        floats, fw_map = parse_namespace_file(str(path))
        assert floats == {"f1", "f2", "f3"}
        assert fw_map == {"AE": "f1", "AK": "f2", "As": "f3",
                          "AR": "f4", "Ae": "f5"}

    def test_two_part_rows(self, tmp_path):
        path = tmp_path / "m.csv"
        path.write_text("AB,feat\nA_B,skipme\n")
        floats, fw_map = parse_namespace_file(str(path))
        assert fw_map == {"AB": "feat"}  # underscore fw_ids skipped


class TestCsvRaw:
    def test_header_and_rows(self, spark, tmp_path):
        d = tmp_path / "ds"
        d.mkdir()
        (d / "data.csv").write_text(
            "f1,f2,f3,f4\n1.0,TS,23,12\n1.2,TA,222,15\nAE,TC,22,21\n",
        )
        info = read_csv_raw(spark, str(d))
        assert info.column_names == ["f1", "f2", "f3", "f4"]
        assert info.df.count() == 3

    # ref data_io_test.py:45-62 quoted-field case
    def test_quoted_header(self, spark, tmp_path):
        d = tmp_path / "dq"
        d.mkdir()
        (d / "data.csv").write_text(
            'f1,"f2,quoted",f3\n1,a,2\n',
        )
        info = read_csv_raw(spark, str(d))
        assert info.column_names == ["f1", "f2,quoted", "f3"]

    def test_subsample_plan_parses_once_without_shuffle(self, spark,
                                                         tmp_path):
        """The subsample hash reads every column; the plan must neither
        shuffle the input nor grow a CSV parser per column read."""
        from outrank_spark.operators.pair_scoring import (
            deterministic_subsample,
        )

        def plan_of(width):
            d = tmp_path / f"w{width}"
            d.mkdir()
            names = [f"f{i}" for i in range(width - 1)] + ["label"]
            rows = [",".join(str((r + i) % 3) for i in range(width))
                    for r in range(50)]
            (d / "data.csv").write_text(
                "\n".join([",".join(names), *rows, "1,2"]) + "\n",
            )
            df = read_dataset(spark, str(d), "csv-raw").df
            sub = deterministic_subsample(df, 10)
            return sub._jdf.queryExecution().executedPlan().toString()

        narrow, wide = plan_of(3), plan_of(40)
        assert "Exchange" not in narrow and "Exchange" not in wide
        assert narrow.count("from_csv") == wide.count("from_csv") > 0

    def test_one_parse_per_pass_same_rows(self, spark, tmp_path):
        """The executed plan of the valid rows holds one CSV parser,
        with or without the subsample on top, and the split into valid
        rows and invalid lines holds for short, long and
        CRLF-terminated lines, a line equal to the header, a quoted
        comma and an empty line.  The empty line is invalid: it parses
        to one field against the header's three, and it is counted."""
        from outrank_spark.operators.pair_scoring import (
            deterministic_subsample,
        )

        d = tmp_path / "mixed"
        d.mkdir()
        (d / "data.csv").write_bytes(
            b'a,b,label\n1,2,0\nx,bad\n3,4,1\r\nx,y,bad,z\na,b,label\n'
            b'5,"6,7",1\n\nshort\r\n8,9,0\n')
        info = read_csv_raw(spark, str(d))
        for df in (info.df, deterministic_subsample(info.df, 2)):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert plan.count("from_csv(") == 1, plan
        assert [tuple(r) for r in info.df.collect()] == [
            ("1", "2", "0"), ("3", "4", "1"), ("5", "6,7", "1"),
            ("8", "9", "0")]
        assert info.invalid_count.get["n"] == 4
        assert [r["line"] for r in info.invalid_lines.collect()] == [
            "x,bad", "x,y,bad,z", "", "short"]

    def test_empty_line_under_one_column_header_is_valid(self, spark,
                                                         tmp_path):
        """Under a one-column header an empty line has the header's
        width: a valid null row, as in the reference's width check."""
        d = tmp_path / "one"
        d.mkdir()
        (d / "data.csv").write_text("label\n1\n\n0\n")
        info = read_csv_raw(spark, str(d))
        assert [r["label"] for r in info.df.collect()] == ["1", None, "0"]
        assert info.invalid_lines.count() == 0

    def test_wrong_width_lines_dropped_under_pruning(self, spark, tmp_path):
        d = tmp_path / "dirty"
        d.mkdir()
        (d / "data.csv").write_text(
            "a,b,label\n1,2,0\nx,bad\n3,4,1\nx,y,bad,z\n",
        )
        info = read_csv_raw(spark, str(d))
        labels = [r["label"] for r in info.df.select("label").collect()]
        assert sorted(labels) == ["0", "1"]
        # the invalid relation alone is countable, no cache needed
        assert info.invalid_lines.count() == 2


class TestObCsv:
    def test_descriptor_types(self, spark, tmp_path):
        d = tmp_path / "ds"
        d.mkdir()
        (d / "dataset_desc.json").write_text(json.dumps({
            "data_features": [
                {"name": "a", "type": "Float32"},
                {"name": "b", "type": "categorical"},
            ],
        }))
        (d / "data.csv").write_text("a,b\n1.5,x\n2.5,y\n")
        info = read_ob_csv(spark, str(d))
        assert info.numeric_columns == {"a"}
        assert info.df.count() == 2


class TestObVw:
    def _write(self, d, gz=False):
        (d / "vw_namespace_map.csv").write_text("AE,f1,f32\nAK,f2,\n")
        lines = (
            "1 |AE 0.5 |AK red blue\n"
            "0 |AE 1.5\n"
        )
        if gz:
            with gzip.open(d / "data.vw.gz", "wt") as f:
                f.write(lines)
        else:
            (d / "data.vw").write_text(lines)

    def test_sparse_pivot(self, spark, tmp_path):
        d = tmp_path / "vw"
        d.mkdir()
        self._write(d)
        info = read_ob_vw(spark, str(d))
        assert info.column_names == ["label", "f1", "f2"]
        assert info.numeric_columns == {"f1"}
        rows = {r["label"]: r for r in info.df.collect()}
        # values lose their first 2 chars (namespace-info strip,
        # core_utils.py:196-199)
        assert rows["1"]["f1"] == "5"      # '0.5'[2:]
        assert rows["1"]["f2"] == "d-blue"  # 'red-blue'[2:]
        assert rows["0"]["f2"] is None

    def test_gz_stream(self, spark, tmp_path):
        d = tmp_path / "vwgz"
        d.mkdir()
        self._write(d, gz=True)
        info = read_ob_vw(spark, str(d))
        assert info.df.count() == 2

    def test_namespace_info_kept(self, spark, tmp_path):
        d = tmp_path / "vwn"
        d.mkdir()
        self._write(d)
        info = read_ob_vw(spark, str(d), include_namespace_info=True)
        rows = {r["label"]: r for r in info.df.collect()}
        assert rows["1"]["f1"] == "0.5"

    def test_unknown_source_raises(self, spark, tmp_path):
        with pytest.raises(ValueError):
            read_dataset(spark, str(tmp_path), "bogus")


class TestStreamingSketches:
    def test_stream_matches_batch_bitwise(self, spark, tmp_path):
        from outrank_spark.sources import generate_pages

        pages = generate_pages(spark, 2000, seed=42, partitions=4) \
            .select("url", "lang")
        data_dir = str(tmp_path / "data")
        pages.write.mode("overwrite").parquet(data_dir)

        plan = SketchPlan(columns=["url", "lang"],
                          sketches={"hll": {"p": 12}})
        acc = StreamingSketchAccumulator(plan, state_dir=str(tmp_path / "state"))
        stream = (
            spark.readStream.schema("url string, lang string")
            .option("maxFilesPerTrigger", 1)
            .parquet(data_dir)
        )
        q = acc.attach(stream, str(tmp_path / "ckpt"))
        q.awaitTermination(120)

        batch_result = build_sketches(
            spark.read.parquet(data_dir), plan,
        )
        assert len(acc.batches_seen) >= 1
        for key in batch_result:
            assert acc.state[key].to_bytes() == batch_result[key].to_bytes()

    def test_restart_resumes_idempotently(self, spark, tmp_path):
        from outrank_spark.sources import generate_pages

        pages = generate_pages(spark, 1000, seed=1, partitions=2) \
            .select("url", "lang")
        data_dir = str(tmp_path / "data2")
        pages.write.mode("overwrite").parquet(data_dir)
        plan = SketchPlan(columns=["lang"], sketches={"hll": {"p": 12}})

        state_dir = str(tmp_path / "state2")
        acc1 = StreamingSketchAccumulator(plan, state_dir=state_dir)
        stream = spark.readStream.schema("url string, lang string") \
            .parquet(data_dir)
        q = acc1.attach(stream, str(tmp_path / "ckpt2"))
        q.awaitTermination(120)
        est1 = acc1.state[("lang", "hll")].estimate()

        # fresh accumulator from persisted state; replaying batch 0 is a no-op
        acc2 = StreamingSketchAccumulator(plan, state_dir=state_dir)
        assert acc2.state[("lang", "hll")].estimate() == est1
        acc2.process_batch(spark.read.parquet(data_dir), batch_id=0)
        assert acc2.state[("lang", "hll")].estimate() == est1

    def test_state_and_manifest_persist_atomically(self, spark, tmp_path):
        """Blobs and batches_seen live in ONE atomically-replaced file:
        no crash window where a batch is merged but not recorded (which
        would double-count additive sketches on replay)."""
        import json
        import os

        from outrank_spark.sources import generate_pages

        plan = SketchPlan(columns=["lang"], sketches={"hll": {"p": 12}})
        state_dir = str(tmp_path / "state3")
        acc = StreamingSketchAccumulator(plan, state_dir=state_dir)
        pages = generate_pages(spark, 200, seed=7, partitions=1) \
            .select("url", "lang")
        acc.process_batch(pages, batch_id=0)

        files = set(os.listdir(state_dir))
        assert files == {"sketch_state.bin"}  # single state artifact
        with open(os.path.join(state_dir, "sketch_state.bin")) as f:
            record = json.load(f)
        assert set(record) == {"fingerprint", "blobs", "batches_seen"}
        assert [b["batch_id"] for b in record["batches_seen"]] == [0]


class TestReadDatasetValidation:
    def test_validate_flag_reaches_csv_reader(self, spark, tmp_path):
        """The CLI reads through read_dataset — corrupt lines must
        surface in info.invalid_lines (regression: the PERMISSIVE
        filter used to be unreachable from the CLI)."""
        d = tmp_path / "csvdata"
        d.mkdir()
        (d / "data.csv").write_text(
            "a,b,label\n1,2,0\nbadline\n3,4,1\n",
        )
        from outrank_spark.sources.readers import (
            invalid_line_summary,
            read_dataset,
        )

        info = read_dataset(spark, str(d), "csv-raw")
        assert info.invalid_lines is not None
        n_bad, samples = invalid_line_summary(info)
        assert n_bad == 1
        assert any("badline" in s for s in samples)
        assert info.df.count() == 2


class TestReadPagesTable:
    def test_parquet_roundtrip_and_schema(self, spark, tmp_path):
        from outrank_spark.sources.pages import generate_pages, read_pages_table

        path = str(tmp_path / "pages")
        generate_pages(spark, 200, seed=7).withColumn(
            "extra", F.lit(1)).write.parquet(path)
        df = read_pages_table(spark, path)
        assert df.columns == ["url", "warc_ts", "html", "text", "lang"]
        assert df.count() == 200
        assert dict(df.dtypes)["warc_ts"] == "timestamp"
        assert dict(df.dtypes)["html"] == "binary"

    def test_html_pruned_unless_requested(self, spark, tmp_path):
        from outrank_spark.sources.pages import generate_pages, read_pages_table

        path = str(tmp_path / "pages2")
        generate_pages(spark, 50, seed=7).write.parquet(path)
        plan = read_pages_table(spark, path).select("url", "lang") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "html" not in plan.split("ReadSchema")[1][:200]

    def test_missing_columns_rejected(self, spark, tmp_path):
        from outrank_spark.sources.pages import read_pages_table

        path = str(tmp_path / "notpages")
        spark.range(5).write.parquet(path)
        with pytest.raises(ValueError, match="lacks"):
            read_pages_table(spark, path)

    def test_iceberg_error_is_actionable(self, spark, tmp_path):
        from outrank_spark.sources.pages import read_pages_table

        with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
            read_pages_table(spark, str(tmp_path), fmt="iceberg")


def test_read_pages_unknown_fmt_rejected(spark, tmp_path):
    from outrank_spark.sources.pages import read_pages_table

    with pytest.raises(ValueError, match="unknown fmt"):
        read_pages_table(spark, str(tmp_path), fmt="orc")


class TestLocalFileContract:
    """The csv readers peek at the header driver-side, so
    they accept exactly one local file — globs/dirs/remote URIs must
    fail with an actionable error, not a late FileNotFoundError."""

    def test_remote_uri_rejected(self, spark):
        with pytest.raises(ValueError, match="remote URI"):
            read_csv_raw(spark, "s3://bucket/data")

    def test_glob_rejected(self, spark, tmp_path):
        with pytest.raises(ValueError, match="glob or directory"):
            read_csv_raw(spark, str(tmp_path / "part-*"))

    def test_missing_file_clear_error(self, spark, tmp_path):
        with pytest.raises(FileNotFoundError, match="no such file"):
            read_csv_raw(spark, str(tmp_path / "nope"))


class TestZstInput:
    """`.zst` line streams decode via pyarrow's zstd codec (reference
    core_ranking.py:625-632 reads .zst; no Hadoop codec jar here)."""

    def _write_vw_fixture(self, tmp_path, compress):
        import pyarrow as pa

        (tmp_path / "vw_namespace_map.csv").write_text(
            "0,f0_f32\n1,f1\n",
        )
        lines = "\n".join(
            f"{i % 2} |A f0_{i % 3} |B f1_{i % 5}" for i in range(40)
        ) + "\n"
        if compress == "zst":
            with pa.CompressedOutputStream(
                    str(tmp_path / "data.vw.zst"), "zstd") as out:
                out.write(lines.encode())
        else:
            (tmp_path / "data.vw").write_text(lines)

    def test_zst_roundtrip_matches_plain(self, spark, tmp_path):
        plain_dir = tmp_path / "plain"
        zst_dir = tmp_path / "zst"
        plain_dir.mkdir()
        zst_dir.mkdir()
        self._write_vw_fixture(plain_dir, "plain")
        self._write_vw_fixture(zst_dir, "zst")
        a = read_ob_vw(spark, str(plain_dir))
        b = read_ob_vw(spark, str(zst_dir))
        pa_ = a.df.orderBy(*a.df.columns).toPandas()
        pb_ = b.df.orderBy(*b.df.columns).toPandas()
        assert pa_.equals(pb_)
        assert len(pa_) == 40

    def test_read_zst_lines_direct(self, spark, tmp_path):
        import pyarrow as pa

        from outrank_spark.sources.readers import read_zst_lines

        payload = "alpha\r\nbeta\ngamma\n"
        path = tmp_path / "x.zst"
        with pa.CompressedOutputStream(str(path), "zstd") as out:
            out.write(payload.encode())
        rows = [r["value"] for r in
                read_zst_lines(spark, str(path)).collect()]
        assert rows == ["alpha", "beta", "gamma"]
