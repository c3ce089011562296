"""Streaming event operators (streaming/event_streams.py):
applyInPandasWithState sessionization + watermarked window counts,
driven through real readStream file sources with availableNow.
"""
from __future__ import annotations

import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from outrank_spark.streaming.event_streams import (
    sessionize_stream,
    windowed_event_counts,
)

EV_SCHEMA = "user_id long, ts timestamp, event_type string"


def _events(rows):
    return pd.DataFrame(
        rows, columns=["user_id", "ts", "event_type"],
    ).assign(ts=lambda d: pd.to_datetime(d["ts"]))


class TestSessionizeStream:
    def test_sessions_close_on_gap(self, spark, tmp_path):
        t0 = "2024-01-01 "
        rows = [
            # user 1: two sessions (65-min gap), second stays open
            (1, t0 + "10:00:00", "a"), (1, t0 + "10:10:00", "a"),
            (1, t0 + "10:20:00", "a"), (1, t0 + "11:25:00", "a"),
            # user 2: one session, then a far-future event closes it
            (2, t0 + "09:00:00", "b"), (2, t0 + "09:05:00", "b"),
            (2, "2024-01-02 09:00:00", "b"),
        ]
        data_dir = str(tmp_path / "ev")
        spark.createDataFrame(_events(rows), EV_SCHEMA).coalesce(1) \
            .write.parquet(data_dir)

        stream = spark.readStream.schema(EV_SCHEMA).parquet(data_dir)
        sessions = sessionize_stream(stream, gap_minutes=30)
        q = (
            sessions.writeStream.format("memory")
            .queryName("sess_out").outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        out = spark.sql(
            "select * from sess_out order by user_id, session_start",
        ).toPandas()
        # closed sessions only: user1 first session (3 events),
        # user2 first session (2 events); open tails stay in state
        assert len(out) == 2
        u1 = out[out["user_id"] == 1].iloc[0]
        assert u1["n_events"] == 3
        assert str(u1["session_start"]) == "2024-01-01 10:00:00"
        assert str(u1["session_end"]) == "2024-01-01 10:20:00"
        u2 = out[out["user_id"] == 2].iloc[0]
        assert u2["n_events"] == 2

    def test_state_carries_across_micro_batches(self, spark, tmp_path):
        """A session spanning two micro-batches must NOT split: the
        open session lives in GroupState between batches."""
        t0 = "2024-01-01 "
        data_dir = str(tmp_path / "ev2")
        first = [(7, t0 + "10:00:00", "a"), (7, t0 + "10:10:00", "a")]
        spark.createDataFrame(_events(first), EV_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(data_dir)
        time.sleep(1.1)  # distinct mod times -> deterministic file order
        second = [(7, t0 + "10:20:00", "a"), (7, t0 + "12:00:00", "a")]
        spark.createDataFrame(_events(second), EV_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(data_dir)

        stream = (
            spark.readStream.schema(EV_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(data_dir)
        )
        q = (
            sessionize_stream(stream, gap_minutes=30)
            .writeStream.format("memory").queryName("sess_span")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        out = spark.sql("select * from sess_span").toPandas()
        assert len(out) == 1
        assert out.iloc[0]["n_events"] == 3  # 10:00+10:10 (+10:20 batch 2)
        assert str(out.iloc[0]["session_end"]) == "2024-01-01 10:20:00"

    def test_matches_batch_sessionization_oracle(self, spark, tmp_path):
        """Closed streaming sessions == the batch lag-sessionize (q18
        shape) on the same events, for every session that closed."""
        from pyspark.sql import Window

        rows = []
        t = pd.Timestamp("2024-01-01 08:00:00")
        import numpy as np

        rng = np.random.default_rng(9)
        for u in range(5):
            cur = t
            for _ in range(30):
                cur = cur + pd.Timedelta(minutes=int(rng.integers(1, 90)))
                rows.append((u, str(cur), "x"))
        # sentinel far-future event per user closes the tail session
        for u in range(5):
            rows.append((u, "2030-01-01 00:00:00", "x"))
        data_dir = str(tmp_path / "ev3")
        spark.createDataFrame(_events(rows), EV_SCHEMA).coalesce(1) \
            .write.parquet(data_dir)

        stream = spark.readStream.schema(EV_SCHEMA).parquet(data_dir)
        q = (
            sessionize_stream(stream, gap_minutes=30)
            .writeStream.format("memory").queryName("sess_oracle")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt3"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = spark.sql(
            "select user_id, session_start, session_end, n_events "
            "from sess_oracle order by user_id, session_start",
        ).toPandas()

        ev = spark.read.parquet(data_dir)
        w = Window.partitionBy("user_id").orderBy("ts")
        batch = (
            ev.withColumn("prev", F.lag("ts").over(w))
            .withColumn(
                "new_sess",
                (F.col("prev").isNull()
                 | (F.col("ts").cast("long") - F.col("prev").cast("long")
                    > 1800)).cast("int"),
            )
            .withColumn("sess_id", F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy("user_id", "sess_id")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count(F.lit(1)).alias("n_events"))
            .filter(F.col("session_start") < F.lit("2029-01-01"))
            .orderBy("user_id", "session_start")
            .toPandas()[
                ["user_id", "session_start", "session_end", "n_events"]
            ]
        )
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True), batch.reset_index(drop=True),
            check_dtype=False,
        )


class TestWindowedCounts:
    def test_windowed_counts_match_batch(self, spark, tmp_path):
        rows = [
            (1, "2024-01-01 10:05:00", "a"),
            (2, "2024-01-01 10:55:00", "a"),
            (3, "2024-01-01 11:05:00", "a"),
            (4, "2024-01-01 11:10:00", "b"),
        ]
        data_dir = str(tmp_path / "evw")
        spark.createDataFrame(_events(rows), EV_SCHEMA).coalesce(1) \
            .write.parquet(data_dir)
        stream = spark.readStream.schema(EV_SCHEMA).parquet(data_dir)
        q = (
            # complete mode: append would hold windows open until the
            # watermark passes, which never happens in a bounded
            # availableNow replay
            windowed_event_counts(stream, window="1 hour",
                                  watermark="2 hours")
            .writeStream.format("memory").queryName("win_out")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckptw"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        out = spark.sql(
            "select * from win_out order by window_start, event_type",
        ).toPandas()
        got = {
            (str(r["window_start"]), r["event_type"]): r["n_events"]
            for _, r in out.iterrows()
        }
        assert got == {
            ("2024-01-01 10:00:00", "a"): 2,
            ("2024-01-01 11:00:00", "a"): 1,
            ("2024-01-01 11:00:00", "b"): 1,
        }


class TestStreamingExactDedup:
    def test_duplicates_dropped_within_watermark(self, spark, tmp_path):
        """Duplicate texts arriving in later micro-batches are dropped;
        the kept set equals the batch exact_dedup keepers."""
        import datetime

        import pandas as pd

        from outrank_spark.streaming.event_streams import (
            streaming_exact_dedup,
        )

        t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
        data_dir = tmp_path / "docs"
        chunks = [
            [(1, "alpha beta", t0), (2, "gamma delta", t0)],
            [(3, "alpha beta", t0 + datetime.timedelta(minutes=1)),
             (4, "epsilon", t0 + datetime.timedelta(minutes=1))],
            [(5, "gamma delta", t0 + datetime.timedelta(minutes=2)),
             (6, "zeta", t0 + datetime.timedelta(minutes=2))],
        ]
        for i, rows in enumerate(chunks):
            spark.createDataFrame(
                pd.DataFrame(rows, columns=["doc_id", "text", "ts"]),
            ).coalesce(1).write.mode("append").parquet(str(data_dir))

        stream = (
            spark.readStream
            .schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(data_dir))
        )
        out_dir = tmp_path / "out"
        q = (
            streaming_exact_dedup(stream, watermark="30 minutes")
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = spark.read.parquet(str(out_dir)).toPandas()
        kept_texts = sorted(got["text"])
        assert kept_texts == ["alpha beta", "epsilon", "gamma delta",
                              "zeta"]


class TestFunnelStream:
    STEPS = ["view", "click", "purchase"]

    def _run_stream(self, spark, tmp_path, frames, name):
        from outrank_spark.streaming.event_streams import funnel_stream

        data_dir = str(tmp_path / f"{name}_data")
        for i, pdf in enumerate(frames):
            spark.createDataFrame(pdf).coalesce(1).write.mode(
                "append").parquet(data_dir)
        stream = (
            spark.readStream.schema(EV_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(data_dir)
        )
        q = (
            funnel_stream(stream, self.STEPS)
            .writeStream.format("memory").queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return spark.sql(f"select * from {name}").toPandas()

    def test_matches_batch_funnel(self, spark, tmp_path):
        import numpy as np

        from outrank_spark.operators.temporal import funnel_counts

        rng = np.random.default_rng(11)
        rows = [(int(rng.integers(0, 25)),
                 pd.Timestamp("2024-01-01")
                 + pd.Timedelta(seconds=int(rng.integers(0, 900_000))),
                 ["view", "click", "purchase", "error"][
                     int(rng.integers(0, 4))])
                for _ in range(600)]
        pdf = _events(rows).sort_values("ts")   # event-time order
        # two micro-batches, split at the time median
        half = len(pdf) // 2
        out = self._run_stream(
            spark, tmp_path, [pdf.iloc[:half], pdf.iloc[half:]],
            "funnel_parity")

        batch = {r["step"]: r["n_users"] for r in funnel_counts(
            spark.createDataFrame(pdf), self.STEPS).collect()}
        streamed = {
            s: out[out["step"] >= s]["user_id"].nunique()
            for s in (1, 2, 3)
        }
        assert streamed == batch

    def test_state_advances_across_micro_batches(self, spark, tmp_path):
        f1 = _events([(1, "2024-01-01 10:00", "view")])
        f2 = _events([(1, "2024-01-01 10:05", "click"),
                      (1, "2024-01-01 10:06", "purchase")])
        out = self._run_stream(spark, tmp_path, [f1, f2], "funnel_span")
        got = sorted(map(tuple, out[["step"]].values.tolist()))
        assert got == [(1,), (2,), (3,)]

    def test_strictly_after_and_late_event_ignored(self, spark, tmp_path):
        # click BEFORE the view arrives in a later batch: the stream
        # cannot retroactively advance (documented caveat)
        f1 = _events([(1, "2024-01-01 10:00", "view")])
        f2 = _events([(1, "2024-01-01 09:59", "click")])
        out = self._run_stream(spark, tmp_path, [f1, f2], "funnel_late")
        assert out["step"].tolist() == [1]
