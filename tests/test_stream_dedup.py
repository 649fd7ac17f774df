"""Streaming dedup: Bloom-gated first-seen emission with replay idempotency,
and the exact watermark-bounded wrapper."""

import glob

import pytest
from pyspark.sql import functions as F


def _run_batches(spark, dedup, batches):
    """Feed explicit micro-batches through the foreachBatch callback — the
    deterministic way to exercise cross-batch and replay behavior."""
    for bid, keys in batches:
        df = spark.createDataFrame([(k,) for k in keys], "key string")
        dedup(df, bid)


class TestBloomStreamDedup:
    def test_first_seen_only_across_batches(self, spark, tmp_path):
        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.streaming import BloomStreamDedup

        out = str(tmp_path / "out")
        dd = BloomStreamDedup(
            str(tmp_path / "state"), BloomSketch.factory(100_000, 1e-6), "key", out
        )
        _run_batches(
            spark,
            dd,
            [
                (0, [f"doc-{i:06d}" for i in range(100)]),
                # 50 repeats from batch 0 + 50 new + in-batch dup
                (1, [f"doc-{i:06d}" for i in range(50, 150)] + ["doc-000000"]),
                (2, [f"doc-{i:06d}" for i in range(100, 200)]),
            ],
        )
        got = sorted(r["key"] for r in spark.read.parquet(out).collect())
        assert got == sorted(f"doc-{i:06d}" for i in range(200))  # each exactly once

    def test_replayed_batch_is_idempotent(self, spark, tmp_path):
        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.streaming import BloomStreamDedup

        out = str(tmp_path / "out")
        dd = BloomStreamDedup(
            str(tmp_path / "state"), BloomSketch.factory(10_000, 1e-6), "key", out
        )
        _run_batches(spark, dd, [(0, ["a", "b"]), (1, ["b", "c"])])
        # the sink re-offers batch 1 after a restart: must change nothing
        _run_batches(spark, dd, [(1, ["b", "c"])])
        got = sorted(r["key"] for r in spark.read.parquet(out).collect())
        assert got == ["a", "b", "c"]
        # zero FN: every emitted key is in the filter
        sk = dd.current()
        assert all(sk.filter.contains_bytes(k.encode()) for k in ["a", "b", "c"])

    def test_crash_between_output_and_state_is_idempotent(self, spark, tmp_path):
        import os

        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.streaming import BloomStreamDedup

        out = str(tmp_path / "out")
        state_dir = str(tmp_path / "state")
        dd = BloomStreamDedup(
            state_dir, BloomSketch.factory(10_000, 1e-6), "key", out
        )
        _run_batches(spark, dd, [(0, ["a", "b"])])
        saved = open(os.path.join(state_dir, "dedup.state"), "rb").read()
        _run_batches(spark, dd, [(1, ["b", "c"])])
        # simulate a crash where batch 1's parquet landed but the state
        # write did not: roll the state file back and replay batch 1
        with open(os.path.join(state_dir, "dedup.state"), "wb") as f:
            f.write(saved)
        _run_batches(spark, dd, [(1, ["b", "c"])])
        got = sorted(r["key"] for r in spark.read.parquet(out).collect())
        assert got == ["a", "b", "c"]  # batch=1 dir was overwritten, not doubled

    def test_all_seen_batch_folds_nothing(self, spark, tmp_path):
        """A batch whose keys were all seen before emits nothing and
        leaves the state file as it was."""
        import os

        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.streaming import BloomStreamDedup

        out = str(tmp_path / "out")
        state_dir = str(tmp_path / "state")
        dd = BloomStreamDedup(state_dir, BloomSketch.factory(10_000, 1e-6), "key", out)
        _run_batches(spark, dd, [(0, ["a", "b"])])
        saved = open(os.path.join(state_dir, "dedup.state"), "rb").read()
        _run_batches(spark, dd, [(1, ["a", "b", "a"])])
        assert open(os.path.join(state_dir, "dedup.state"), "rb").read() == saved
        _run_batches(spark, dd, [(2, ["c", "a"])])
        got = sorted(r["key"] for r in spark.read.parquet(out).collect())
        assert got == ["a", "b", "c"]

    def test_size_guard(self, tmp_path):
        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.streaming import BloomStreamDedup

        with pytest.raises(ValueError, match="ShardedBloomStream"):
            BloomStreamDedup(
                str(tmp_path / "s"), BloomSketch.factory(10**9, 1e-6), "key",
                str(tmp_path / "o"), max_state_bytes=1 << 20,
            )


class TestExactlyOnceReplay:
    def test_streaming_sketch_replay_counts_once(self, spark, tmp_path):
        """A re-offered batch id leaves a CMS state as it was: its counts
        are not added twice."""
        from poppy_spark.sketches import CmsSketch
        from poppy_spark.spark.streaming import StreamingSketch

        factory = CmsSketch.factory(w=1024, d=4)
        batches = [
            spark.range(i * 500, (i + 1) * 500).select(
                F.format_string("k-%d", F.col("id") % 97).alias("value")
            )
            for i in range(2)
        ]
        once = StreamingSketch(str(tmp_path / "once"), factory)
        replayed = StreamingSketch(str(tmp_path / "replayed"), factory)
        for bid, df in enumerate(batches):
            once(df, bid)
            replayed(df, bid)
        replayed(batches[1], 1)
        assert replayed.current().dumps() == once.current().dumps()

    def test_windowed_sink_replay_overwrites(self, spark, tmp_path):
        """A real replay: delete a query's last commit and restart it, so
        Spark re-runs that batch with the same id.  The merged states equal
        those of a run without the replay."""
        import os

        from poppy_spark.sketches import CmsSketch
        from poppy_spark.spark.streaming import (
            merge_grouped_states,
            windowed_grouped_sketch_sink,
        )

        factory = CmsSketch.factory(w=1024, d=4)

        def run(name):
            stream = (
                spark.readStream.format("rate-micro-batch")
                .option("rowsPerBatch", 300)
                .option("numPartitions", 2)
                .option("startTimestamp", 0)
                .option("advanceMillisPerBatch", 1000)
                .load()
                .select(
                    F.col("timestamp").alias("ts"),
                    F.format_string("g%d", F.col("value") % 3).alias("grp"),
                    F.format_string("k-%d", F.col("value") % 41).alias("key"),
                )
            )
            q = (
                windowed_grouped_sketch_sink(
                    stream, "key", ["grp"], factory, str(tmp_path / name / "out")
                )
                .option("checkpointLocation", str(tmp_path / name / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        def merged(name):
            states = spark.read.parquet(str(tmp_path / name / "out"))
            rows = merge_grouped_states(states, ["window", "grp"], factory).collect()
            return sorted((r["grp"], bytes(r["state"]), r["n_rows"]) for r in rows)

        # availableNow over rate-micro-batch runs one new batch per start
        for _ in range(3):
            run("clean")
        run("replay")
        run("replay")
        commits = str(tmp_path / "replay" / "ckpt" / "commits")
        for f in ("1", ".1.crc"):
            os.remove(os.path.join(commits, f))
        run("replay")  # re-runs batch 1, then runs batch 2
        assert sum(n for *_, n in merged("clean")) == 900
        assert merged("replay") == merged("clean")


class TestExactStreamDedup:
    def test_dedup_within_watermark(self, spark, tmp_path):
        import time

        from poppy_spark.spark.streaming import exact_stream_dedup

        # each batch advances event time 10s; key k lives in exactly two
        # consecutive batches (a 10s duplicate span, inside the 30s
        # watermark), so every cross-batch duplicate must be suppressed and
        # every key emitted exactly once
        stream = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 100)
            .option("numPartitions", 2)
            .option("startTimestamp", 0)
            .option("advanceMillisPerBatch", 10_000)
            .load()
            .select(
                F.col("timestamp").alias("ts"),
                F.format_string(
                    "k%07d",
                    (F.floor(F.col("value") / 100) * 50 + F.pmod(F.col("value"), F.lit(100))),
                ).alias("k"),
            )
        )
        q = (
            exact_stream_dedup(stream, ["k"], "ts", "30 seconds")
            .writeStream.format("memory")
            .queryName("exact_dedup")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="100 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                n = spark.sql("SELECT count(DISTINCT k) c FROM exact_dedup").first()["c"]
                if n >= 200:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
        rows = spark.sql("SELECT k FROM exact_dedup").collect()
        keys = [r["k"] for r in rows]
        assert len(set(keys)) >= 200
        assert len(keys) == len(set(keys))  # every key exactly once
