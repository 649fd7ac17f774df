"""applyInPandasWithState: sketch state persists in the state store across
micro-batches; per-group estimates stay within bound."""

import time

import pytest
from pyspark.sql import functions as F


class TestStatefulGroupedSketch:
    def test_state_persists_across_micro_batches(self, spark, tmp_path):
        from poppy_spark.sketches import HllSketch
        from poppy_spark.spark.streaming import stateful_grouped_sketch

        stream = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 600)
            .option("numPartitions", 3)
            .option("startTimestamp", 0)
            .load()
            .select(
                F.format_string("g%d", F.pmod(F.col("value"), F.lit(3))).alias("grp"),
                F.format_string("val-%09d", F.col("value")).alias("key"),
            )
        )
        out = stateful_grouped_sketch(stream, "key", ["grp"], HllSketch.factory(12))
        q = (
            out.writeStream.format("memory")
            .queryName("stateful_sketch")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            batches = 0
            while time.time() < deadline:
                rows = spark.sql("SELECT * FROM stateful_sketch").collect()
                batches = len(rows) // 3
                if batches >= 3:
                    break
                time.sleep(0.5)
            assert batches >= 3, "stream did not produce 3 micro-batches in time"
        finally:
            q.stop()

        rows = spark.sql("SELECT * FROM stateful_sketch").collect()
        by_grp: dict = {}
        for r in rows:
            by_grp.setdefault(r["grp"], []).append((r["n_rows"], r["estimate"]))
        assert set(by_grp) == {"g0", "g1", "g2"}
        tol = 4 * (1.04 / (1 << 6))  # 4 standard errors at p=12
        for grp, seq in by_grp.items():
            seq.sort()
            # n_rows strictly grows across emissions: the state store carried
            # the sketch between micro-batches
            ns = [n for n, _ in seq]
            assert ns[-1] > ns[0]
            # every value is unique, so distinct == n_rows; check the final
            # (largest-n) estimate against it
            n_final, est_final = seq[-1]
            assert abs(est_final - n_final) <= tol * n_final

    def test_int_key_column_keyed_like_batch_build(self, spark, tmp_path):
        """A bigint value column is keyed as the batch builds key it: the
        estimate is within 4 SE, and each group's stored state is byte-equal
        to ``build_sketch_grouped`` over the same rows."""
        from poppy_spark.sketches import HllSketch
        from poppy_spark.spark.agg import build_sketch_grouped
        from poppy_spark.spark.streaming import stateful_grouped_sketch

        src = str(tmp_path / "src")
        for i in range(3):  # one file per micro-batch
            spark.range(i * 3000, (i + 1) * 3000).select(
                F.format_string("g%d", F.col("id") % 3).alias("grp"),
                F.col("id").alias("key"),
            ).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("grp string, key bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        factory = HllSketch.factory(12)
        ckpt = str(tmp_path / "ckpt")
        q = (
            stateful_grouped_sketch(stream, "key", ["grp"], factory)
            .writeStream.format("memory")
            .queryName("stateful_int_keys")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM stateful_int_keys").collect()
        final = {}
        for r in rows:
            if r["n_rows"] > final.get(r["grp"], (0, 0))[0]:
                final[r["grp"]] = (r["n_rows"], r["estimate"])
        assert final.keys() == {"g0", "g1", "g2"}
        tol = 4 * (1.04 / (1 << 6))  # 4 standard errors at p=12
        for n, est in final.values():
            assert n == 3000
            assert abs(est - n) <= tol * n
        stored = {
            r["key"]["grp"]: bytes(r["value"]["groupState"]["state"])
            for r in spark.read.format("statestore").load(ckpt).collect()
        }
        built = {
            r["grp"]: bytes(r["state"])
            for r in build_sketch_grouped(spark.read.parquet(src), "key", ["grp"], factory)
            .collect()
        }
        assert stored == built
