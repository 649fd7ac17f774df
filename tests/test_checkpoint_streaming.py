"""Resumable checkpointed builds (lineage manifest, partial recompute) and
the streaming micro-batch fold."""

import json
import os

import pytest

from pyspark.sql import functions as F

from poppy_spark.sketches import BloomSketch, CmsSketch, HllSketch
from poppy_spark.spark.checkpoint import SketchCheckpoint


@pytest.fixture()
def keys_df(spark):
    return spark.range(0, 20000).select(
        F.format_string("key-%06d", F.col("id")).alias("k")
    ).repartition(8)


class TestCheckpoint:
    def test_build_writes_manifest_and_states(self, spark, keys_df, tmp_path):
        ck = SketchCheckpoint(str(tmp_path / "ck"), BloomSketch.factory(20000, 0.001))
        sk = ck.build(keys_df, "k")
        assert sk.filter.contains_bytes("key-000001")
        m = ck.metrics()
        assert m["n_partitions"] == 8
        assert m["total_rows"] == 20000
        assert os.path.exists(str(tmp_path / "ck" / "final.state"))

    def test_resume_skips_unchanged_partitions(self, spark, keys_df, tmp_path):
        ck = SketchCheckpoint(str(tmp_path / "ck"), BloomSketch.factory(20000, 0.001))
        first = ck.build(keys_df, "k")
        before = json.load(open(ck.manifest_path))
        second = ck.build(keys_df, "k")  # same input: nothing recomputed
        after = json.load(open(ck.manifest_path))
        assert before == after  # untouched timestamps prove the skip
        assert second.dumps() == first.dumps()

    def test_resume_detects_changed_input(self, spark, tmp_path):
        df1 = spark.range(0, 1000).select(F.format_string("a-%d", "id").alias("k")).repartition(4)
        ck = SketchCheckpoint(str(tmp_path / "ck2"), HllSketch.factory(12))
        ck.build(df1, "k")
        df2 = spark.range(0, 2000).select(F.format_string("a-%d", "id").alias("k")).repartition(4)
        sk2 = ck.build(df2, "k")
        assert sk2.result() == pytest.approx(2000, rel=0.05)


    def test_resume_prunes_stale_partitions(self, spark, tmp_path):
        """After a resume where the input was repartitioned to fewer
        partitions, manifest entries (and state files) for removed pids are
        pruned — not silently merged in (which would double-count)."""
        df8 = spark.range(0, 4000).select(F.format_string("p-%d", "id").alias("k")).repartition(8)
        ck = SketchCheckpoint(str(tmp_path / "ck3"), HllSketch.factory(12))
        ck.build(df8, "k")
        assert ck.metrics()["n_partitions"] == 8
        df2 = spark.range(0, 1000).select(F.format_string("p-%d", "id").alias("k")).repartition(2)
        sk = ck.build(df2, "k")
        m = ck.metrics()
        assert m["n_partitions"] == 2
        assert m["total_rows"] == 1000
        # estimate reflects ONLY the new input, not the stale 4000-key states
        assert sk.result() == pytest.approx(1000, rel=0.05)
        states = [f for f in os.listdir(str(tmp_path / "ck3")) if f.startswith("part-")]
        assert len(states) == 2

    def test_many_partitions_driver_light(self, spark, tmp_path):
        """256-partition build: states are written executor-side and merged
        in Spark; the driver never holds more than the final state.  (The
        memory property is structural — asserted here by the build completing
        with 256 state files and a correct merged result.)"""
        df = spark.range(0, 25600).select(F.format_string("m-%08d", "id").alias("k")).repartition(256)
        ck = SketchCheckpoint(str(tmp_path / "ck256"), BloomSketch.factory(25600, 0.001))
        sk = ck.build(df, "k")
        files = [f for f in os.listdir(str(tmp_path / "ck256")) if f.startswith("part-")]
        assert len(files) == 256
        assert ck.metrics()["total_rows"] == 25600
        probe = [f"m-{i:08d}" for i in range(0, 25600, 97)]
        assert bool(sk.filter.contains_batch(probe).all())


class TestStreamingFold:
    def test_micro_batch_fold_equals_batch_build(self, spark, tmp_path):
        """Folding 4 micro-batches through StreamingSketch yields the same
        final bytes as one batch build (merge associativity end-to-end)."""
        from poppy_spark.spark.agg import build_sketch
        from poppy_spark.spark.streaming import StreamingSketch

        factory = BloomSketch.factory(8000, 0.001)
        full = spark.range(0, 8000).select(F.format_string("t-%d", "id").alias("value"))
        ss = StreamingSketch(str(tmp_path / "stream"), factory, col="value")
        for b in range(4):
            batch = full.filter((F.col("value").substr(3, 10).cast("long") % 4) == b)
            ss(batch, b)
        folded = ss.current()
        single = build_sketch(full, "value", factory)
        assert folded.dumps() == single.dumps()

    def test_grouped_state_compaction(self, spark, tmp_path):
        """Merging appended grouped states equals one grouped build, byte
        for byte (order-invariant sketches), at any input partition count."""
        from poppy_spark.spark.agg import build_sketch_grouped
        from poppy_spark.spark.streaming import merge_grouped_states

        df = spark.range(0, 5000).select(
            (F.col("id") % 3).cast("string").alias("g"),
            F.format_string("v-%d", "id").alias("v"),
        )
        factories = {
            "hll": HllSketch.factory(12),
            "cms": CmsSketch.factory(w=1024, d=4),
            "bloom": BloomSketch.factory(5000, 0.001),
        }
        for name, factory in factories.items():
            one_shot = {
                r["g"]: bytes(r["state"])
                for r in build_sketch_grouped(df, "v", ["g"], factory).collect()
            }
            for parts in (1, 7):
                s1, s2 = (
                    build_sketch_grouped(half.repartition(parts), "v", ["g"], factory)
                    for half in (df.filter("id < 2500"), df.filter("id >= 2500"))
                )
                compacted = merge_grouped_states(s1.unionAll(s2), ["g"], factory).collect()
                assert len(compacted) == 3
                assert {r["g"]: r["n_rows"] for r in compacted} == {
                    "0": 1667, "1": 1667, "2": 1666
                }
                assert {r["g"]: bytes(r["state"]) for r in compacted} == one_shot, (name, parts)
                if name == "hll":
                    for r in compacted:
                        est = HllSketch.loads(bytes(r["state"])).result()
                        assert est == pytest.approx(5000 / 3, rel=0.05), r["g"]


class TestMultimodalPlumbing:
    def test_feature_extraction_stub(self, spark):
        from poppy_spark.spark.multimodal import (
            attach_fake_media,
            extract_media_features,
            media_content_hash,
        )

        df = attach_fake_media(spark.range(0, 50).withColumnRenamed("id", "doc_id"), "doc_id")
        feats = extract_media_features(df, allow_fake=True)
        rows = feats.collect()
        assert all(len(r["feat"]) == 64 for r in rows)
        # determinism: same media -> same features
        again = {r["doc_id"]: r["feat"] for r in extract_media_features(df, allow_fake=True).collect()}
        for r in rows:
            assert again[r["doc_id"]] == r["feat"]
        hashed = media_content_hash(df)
        assert hashed.select("media_hash").distinct().count() == 50

    def test_decode_without_codec_raises(self):
        from poppy_spark.spark.multimodal import decode_image

        with pytest.raises(NotImplementedError):
            decode_image(b"\x00" * 16, 8, 8, allow_fake=False)


class TestRealStructuredStreaming:
    def test_rate_stream_foreachbatch_bloom(self, spark, tmp_path):
        """End-to-end Structured Streaming: rate source -> foreachBatch
        StreamingSketch -> final filter contains every streamed value."""
        from poppy_spark.spark.streaming import StreamingSketch

        factory = BloomSketch.factory(5000, 0.001)
        ss = StreamingSketch(str(tmp_path / "rt"), factory, col="value")
        stream = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 500)
            .option("numPartitions", 4)
            .load()
            .select(F.format_string("evt-%d", F.col("value")).alias("value"))
        )
        q = (
            stream.writeStream.foreachBatch(ss)
            .option("checkpointLocation", str(tmp_path / "rt-ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        sk = ss.current()
        # count field is a post-merge estimate; membership is the contract:
        # every streamed value must be contained (zero false negatives)
        assert sk.filter.count_estimate >= 300
        probe = [f"evt-{i}" for i in range(500)]
        assert bool(sk.filter.contains_batch(probe).all())


class TestWindowedGroupedSink:
    def test_sink_appends_mergeable_states(self, spark, tmp_path):
        """Drive the windowed grouped sink's foreachBatch body in batch mode
        and merge the appended states on read."""
        from poppy_spark.data.transcripts import generate_transcripts
        from poppy_spark.spark.agg import build_sketch_grouped
        from poppy_spark.spark.streaming import merge_grouped_states

        t = generate_transcripts(spark, n_convs=100, seed=42)
        out = str(tmp_path / "winstates")
        factory = HllSketch.factory(12)
        halves = (
            t.filter(F.abs(F.xxhash64("conv_id")) % 2 == 0),
            t.filter(F.abs(F.xxhash64("conv_id")) % 2 == 1),
        )
        for half in halves:
            g = half.withColumn("window", F.date_trunc("day", F.col("ts")))
            states = build_sketch_grouped(g, "text", ["window", "role"], factory)
            states.write.mode("append").parquet(out)
        appended = spark.read.parquet(out)
        assert appended.count() > appended.select("window", "role").distinct().count()
        merged = merge_grouped_states(appended, ["window", "role"], factory)
        assert merged.count() == appended.select("window", "role").distinct().count()
        # estimate sanity for one (window, role) cell vs exact
        row = merged.filter("role = 'user'").first()
        exact = (
            t.withColumn("window", F.date_trunc("day", F.col("ts")))
            .filter((F.col("window") == row["window"]) & (F.col("role") == "user"))
            .select("text").distinct().count()
        )
        est = HllSketch.loads(bytes(row["state"])).result()
        assert est == pytest.approx(exact, rel=0.1, abs=3)


class TestFrameSampling:
    def test_video_frame_offsets(self, spark):
        from poppy_spark.spark.multimodal import attach_fake_media, sample_frames

        df = attach_fake_media(
            spark.range(0, 5).withColumnRenamed("id", "doc_id"), "doc_id", kind="video"
        ).withColumn("media_ms", F.lit(3500))
        frames = sample_frames(df, every_ms=1000)
        per_doc = frames.groupBy("doc_id").count().collect()
        assert all(r["count"] == 4 for r in per_doc)  # 0,1000,2000,3000
        offs = sorted(r["frame_ms"] for r in frames.filter("doc_id = 0").collect())
        assert offs == [0, 1000, 2000, 3000]


class TestPartitionedStateWarehouse:
    def test_day_partitioned_states_prune_on_read(self, spark, tmp_path):
        """The warehouse shape for 10^12-turn rollups: per-(day, role) sketch
        states written as a day-partitioned table; reading one day's slice
        partition-prunes (PartitionFilters in the scan) and merge-on-read
        yields the right estimates without touching other days."""
        from pyspark.sql import functions as F

        from poppy_spark.data.transcripts import generate_transcripts
        from poppy_spark.spark.agg import build_sketch_grouped
        from poppy_spark.spark.streaming import merge_grouped_states
        from poppy_spark.sketches import HllSketch

        t = generate_transcripts(spark, n_convs=400, seed=42).withColumn(
            "day", F.to_date(F.date_trunc("day", F.col("ts")))
        )
        factory = HllSketch.factory(12)
        out = str(tmp_path / "state_warehouse")
        # two independent appends (micro-batches / backfills)
        for part in (
            t.filter(F.abs(F.xxhash64("conv_id")) % 2 == 0),
            t.filter(F.abs(F.xxhash64("conv_id")) % 2 == 1),
        ):
            states = build_sketch_grouped(part, "conv_id", ["day", "role"], factory)
            states.write.mode("append").partitionBy("day").parquet(out)
        days = [r["day"] for r in t.select("day").distinct().collect()]
        one_day = days[0]
        sliced = spark.read.parquet(out).filter(F.col("day") == F.lit(one_day))
        plan = sliced._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "day" in plan
        merged = merge_grouped_states(sliced, ["day", "role"], factory)
        got = {r["role"]: HllSketch.loads(bytes(r["state"])).result() for r in merged.collect()}
        exact = {
            r["role"]: r["n"]
            for r in t.filter(F.col("day") == F.lit(one_day))
            .groupBy("role")
            .agg(F.countDistinct("conv_id").alias("n"))
            .collect()
        }
        for role, n in exact.items():
            assert got[role] == pytest.approx(n, rel=0.1, abs=3), role


class TestFilesFingerprint:
    """Round-3: fingerprint='files' makes an all-unchanged resume cost a
    file LISTING instead of a full key-column scan."""

    def _write_input(self, spark, path, n=12000, start=0):
        spark.range(start, start + n).select(
            F.format_string("fk-%06d", F.col("id")).alias("k")
        ).repartition(4).write.mode("overwrite").parquet(path)

    def test_unchanged_resume_scans_nothing(self, spark, tmp_path, monkeypatch):
        src = str(tmp_path / "src")
        self._write_input(spark, src)
        df = spark.read.parquet(src)
        ck = SketchCheckpoint(str(tmp_path / "ck"), BloomSketch.factory(12000, 0.001))
        first = ck.build(df, "k", fingerprint="files")

        # resume: forbid ANY data scan — content fingerprinting must not run
        import poppy_spark.spark.checkpoint as cpmod

        def boom(*a, **kw):
            raise AssertionError("content fingerprint scan ran on unchanged input")

        monkeypatch.setattr(cpmod, "_fingerprint", boom)
        again = ck.build(spark.read.parquet(src), "k", fingerprint="files")
        assert again.dumps() == first.dumps()

    def test_changed_input_falls_back_to_content(self, spark, tmp_path):
        src = str(tmp_path / "src2")
        self._write_input(spark, src)
        df = spark.read.parquet(src)
        ck = SketchCheckpoint(str(tmp_path / "ck2"), BloomSketch.factory(40000, 0.001))
        ck.build(df, "k", fingerprint="files")
        # grow the input: snapshot differs -> content path -> new keys land
        self._write_input(spark, src, n=24000)
        sk = ck.build(spark.read.parquet(src), "k", fingerprint="files")
        assert sk.filter.contains_bytes("fk-023999")

    def test_failed_merge_never_leaves_a_stale_sketch(self, spark, tmp_path, monkeypatch):
        """The input snapshot is recorded only once ``final.state`` holds that
        input: a build whose merge fails must not let the next files-mode
        resume return the previous build's sketch."""
        import poppy_spark.spark.agg as aggmod

        src = str(tmp_path / "src4")
        self._write_input(spark, src)
        ck = SketchCheckpoint(str(tmp_path / "ck4"), BloomSketch.factory(40000, 0.001))
        ck.build(spark.read.parquet(src), "k", fingerprint="files")
        self._write_input(spark, src, n=24000, start=50000)

        def boom(*a, **kw):
            raise RuntimeError("merge failed")

        with monkeypatch.context() as m:
            m.setattr(aggmod, "_merge_tree", boom)
            with pytest.raises(RuntimeError, match="merge failed"):
                ck.build(spark.read.parquet(src), "k", fingerprint="files")
        assert not any(f.endswith(".tmp") for f in os.listdir(str(tmp_path / "ck4")))
        resumed = ck.build(spark.read.parquet(src), "k", fingerprint="files")
        fresh = SketchCheckpoint(str(tmp_path / "ck4-fresh"), BloomSketch.factory(40000, 0.001))
        assert resumed.dumps() == fresh.build(spark.read.parquet(src), "k").dumps()
        again = ck.build(spark.read.parquet(src), "k", fingerprint="files")
        assert again.dumps() == resumed.dumps()

    def test_in_memory_input_uses_content_mode(self, spark, tmp_path, keys_df):
        ck = SketchCheckpoint(str(tmp_path / "ck3"), BloomSketch.factory(20000, 0.001))
        sk = ck.build(keys_df, "k", fingerprint="files")  # no inputFiles
        assert sk.filter.contains_bytes("key-000001")


class TestStreamingSizeGuard:
    def test_oversized_state_refused_with_pointer(self, tmp_path):
        from poppy_spark.spark.streaming import StreamingSketch

        with pytest.raises(ValueError, match="ShardedBloomStream"):
            StreamingSketch(
                str(tmp_path / "huge"),
                BloomSketch.factory(900_000_000, 0.001),  # ~1.6 GB state
            )

    def test_normal_state_accepted(self, tmp_path):
        from poppy_spark.spark.streaming import StreamingSketch

        StreamingSketch(str(tmp_path / "ok"), BloomSketch.factory(10000, 0.001))
