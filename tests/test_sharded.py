"""Bucket-range-sharded Bloom filter: byte-equivalence with the single-file
build, zero FN through the shuffle-join probe, algebra, persistence."""

import pytest

from pyspark.sql import functions as F

from poppy_spark.spark.sharded import (
    ShardedBloom,
    build_sharded_bloom,
    build_sharded_bloom_grouped,
)


@pytest.fixture(scope="module")
def keys_df(spark):
    return (
        spark.range(0, 30000)
        .select(F.format_string("turn-key-%08d", F.col("id")).alias("k"))
        .repartition(8)
    )


@pytest.fixture(scope="module")
def sharded(spark, keys_df):
    return build_sharded_bloom(keys_df, "k", capacity=30000, fpp=0.001, n_shards=8)


class TestShardedEquivalence:
    def test_bytes_equal_single_build(self, spark, keys_df, sharded):
        """Concatenated shard bytes ARE the poppy v2 file a one-shot
        distributed build produces (same capacity/fpp/opt)."""
        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.agg import build_sketch

        single = build_sketch(keys_df, "k", BloomSketch.factory(30000, 0.001))
        assert sharded.to_poppy_bytes() == single.dumps()

    def test_shard_count_and_sizes(self, sharded):
        p = sharded.params
        # 30k keys @ fpp 0.001 -> 14 buckets; 8 requested shards pack to 7
        assert p.n_shards == 7 and p.bps == 2
        rows = sharded.states.collect()
        assert 1 < len(rows) <= p.n_shards
        # logical size divides across shards: no shard exceeds bps buckets
        from poppy_spark.spark.agg import decompress_blob

        for r in rows:
            blob = decompress_blob(bytes(r["state"]))
            assert len(blob) <= p.bps * 4096

    def test_count_estimate_matches_reassembled(self, spark, sharded):
        from poppy_spark.core import loads

        reassembled = loads(sharded.to_poppy_bytes())
        assert sharded.count_estimate() == reassembled.count_estimate
        assert sharded.count_estimate() == pytest.approx(30000, rel=0.02)


class TestShardedProbe:
    def test_zero_false_negatives(self, spark, keys_df, sharded):
        probed = sharded.contains(keys_df, "k", "hit", strategy="shuffle")
        assert probed.filter("NOT hit").count() == 0
        assert probed.count() == 30000

    def test_fpr_within_bound(self, spark, sharded):
        non = spark.range(0, 20000).select(
            F.format_string("absent-key-%08d", F.col("id")).alias("k")
        )
        fp = sharded.contains(non, "k", "hit", strategy="shuffle").filter("hit").count()
        assert fp / 20000 <= 0.001 * 2

    def test_semi_anti_join(self, spark, keys_df, sharded):
        assert sharded.semi_join(keys_df, "k").count() == 30000
        absent = spark.range(0, 5000).select(
            F.format_string("missing-%08d", F.col("id")).alias("k")
        )
        # anti join keeps only definite non-members; FPs may remove a few
        n_anti = sharded.anti_join(absent, "k").count()
        assert n_anti >= 5000 * (1 - 0.01)


class TestShardedAlgebra:
    def test_union_equals_combined_build(self, spark):
        a_keys = spark.range(0, 8000).select(F.format_string("union-a-%06d", "id").alias("k"))
        b_keys = spark.range(4000, 12000).select(F.format_string("union-a-%06d", "id").alias("k"))
        both = a_keys.unionAll(b_keys)
        kw = dict(capacity=12000, fpp=0.001, n_shards=4)
        combined = build_sharded_bloom(both, "k", **kw)
        for parts in (1, 7):
            a = build_sharded_bloom(a_keys.repartition(parts), "k", **kw)
            b = build_sharded_bloom(b_keys.repartition(parts), "k", **kw)
            assert a.union(b).to_poppy_bytes() == combined.to_poppy_bytes(), parts

    def test_intersection_counts(self, spark):
        a_keys = spark.range(0, 6000).select(F.format_string("int-%06d", "id").alias("k"))
        b_keys = spark.range(3000, 9000).select(F.format_string("int-%06d", "id").alias("k"))
        kw = dict(capacity=9000, fpp=0.001, n_shards=4)
        blobs = []
        for parts in (1, 7):
            a = build_sharded_bloom(a_keys.repartition(parts), "k", **kw)
            b = build_sharded_bloom(b_keys.repartition(parts), "k", **kw)
            i = a.intersection(b)
            est = i.count_estimate()
            # the AND-of-bitsets estimate has an inherent positive bias from
            # coincidentally-shared bits (same as poppy's count_common_entries
            # at this load factor): assert the order of magnitude, never under
            assert 3000 <= est <= 3000 * 1.3
            blobs.append(i.to_poppy_bytes())
        assert blobs[0] == blobs[1]


class TestShardedPartitionInvariance:
    def test_bytes_stable_across_orderings(self, spark):
        base = spark.range(0, 10000).select(F.format_string("inv-%07d", "id").alias("k"))
        blobs = []
        for parts in (3, 8, 17):
            sb = build_sharded_bloom(base.repartition(parts), "k", capacity=10000, fpp=0.001, n_shards=4)
            blobs.append(sb.to_poppy_bytes())
        assert blobs[0] == blobs[1] == blobs[2]


#: the sidecar keys of a flat save directory; a grouped one adds the group
#: column and its type
FLAT_META = {"capacity", "fpp", "n_buckets", "n_hash_buck", "n_shards", "bps"}


def _meta(spark, d):
    import json
    import os

    return json.loads(spark.read.json(os.path.join(d, "meta")).collect()[0]["meta"])


def _write_layout(spark, sb, d, meta):
    """A save directory written field by field: state parquet (partitioned
    by the group column when there is one) plus the JSON sidecar."""
    import json
    import os

    w = sb.states.write.mode("overwrite")
    if sb.group_col:
        w = w.partitionBy(sb.group_col)
    w.parquet(os.path.join(d, "shards"))
    spark.createDataFrame([(json.dumps(meta),)], "meta string").coalesce(1).write.mode(
        "overwrite"
    ).json(os.path.join(d, "meta"))


class TestShardedPersistence:
    def test_save_load_roundtrip(self, spark, keys_df, sharded, tmp_path):
        d = str(tmp_path / "shardedbloom")
        sharded.save(d)
        loaded = ShardedBloom.load(spark, d)
        assert loaded.params == sharded.params
        assert loaded.to_poppy_bytes() == sharded.to_poppy_bytes()
        assert loaded.contains(keys_df, "k", "hit").filter("NOT hit").count() == 0
        # a directory in the flat layout (params-only sidecar) loads as flat
        assert _meta(spark, d).keys() == FLAT_META
        assert loaded.group_col is None

    def test_load_both_meta_layouts(self, spark, keys_df, sharded, tmp_path):
        """Directories with a flat sidecar (params only) and a grouped one
        (plus ``group_col``/``group_type``) load as the kind they describe."""
        p = sharded.params
        meta = {
            "capacity": p.capacity, "fpp": p.fpp, "n_buckets": p.n_buckets,
            "n_hash_buck": p.n_hash_buck, "n_shards": p.n_shards, "bps": p.bps,
        }
        d = str(tmp_path / "flat_layout")
        _write_layout(spark, sharded, d, meta)
        flat = ShardedBloom.load(spark, d)
        assert flat.group_col is None and flat.params == p
        assert flat.to_poppy_bytes() == sharded.to_poppy_bytes()

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        gsb = build_sharded_bloom_grouped(
            ev, "user_id", "event_type", capacity=5_000, fpp=0.001, n_shards=4
        )
        gp = gsb.params
        d = str(tmp_path / "grouped_layout")
        _write_layout(spark, gsb, d, {
            "capacity": gp.capacity, "fpp": gp.fpp, "n_buckets": gp.n_buckets,
            "n_hash_buck": gp.n_hash_buck, "n_shards": gp.n_shards, "bps": gp.bps,
            "group_col": "event_type", "group_type": '"string"',
        })
        grouped = ShardedBloom.load(spark, d)
        assert grouped.group_col == "event_type" and grouped.params == gp
        for gval in ["click", "view"]:
            assert grouped.reassemble_group(gval) == gsb.reassemble_group(gval)

    def test_reassembly_budget_guard(self, sharded):
        with pytest.raises(MemoryError):
            sharded.to_poppy_bytes(max_bytes=1024)


class TestAutoStrategy:
    def test_auto_routes_big_filter_through_sharded(self, spark):
        """build_sketch(strategy='auto') picks the index-tuple (sharded)
        shape when one partial state per partition would dominate the
        shuffle, and the result is byte-identical to the states shape."""
        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.agg import build_sketch

        keys = spark.range(0, 5000).select(F.format_string("auto-%06d", "id").alias("k"))
        # capacity far above row count: big filter, few rows -> sharded wins
        factory = BloomSketch.factory(20_000_000, 0.001)
        via_states = build_sketch(keys, "k", factory, strategy="states")
        via_auto = build_sketch(keys, "k", factory, strategy="auto")
        assert via_auto.dumps() == via_states.dumps()
        probe = [f"auto-{i:06d}" for i in range(0, 5000, 13)]
        assert all(via_auto.filter.contains_batch(probe))

    def test_auto_spreads_input_once(self, spark, monkeypatch):
        """The auto route to the sharded build spreads (and counts the
        partitions of) its input once per call, and builds the filter
        the states shape does."""
        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark import agg, sharded

        keys = spark.range(0, 5000).select(F.format_string("once-%06d", "id").alias("k"))
        # a 9 MB filter over 80 partitions: 80 states outweigh the tuples
        factory = BloomSketch.factory(5_000_000, 0.001)
        via_states = agg.build_sketch(keys, "k", factory, strategy="states")
        spreads, builds = [], []
        spread, build = agg._spread, sharded._build
        monkeypatch.setattr(agg, "_spread", lambda *a, **k: spreads.append(1) or spread(*a, **k))
        monkeypatch.setattr(sharded, "_build", lambda *a, **k: builds.append(1) or build(*a, **k))
        via_auto = agg.build_sketch(keys, "k", factory, repartition=80, strategy="auto")
        assert (len(spreads), len(builds)) == (1, 1)
        assert via_auto.dumps() == via_states.dumps()

    def test_auto_keeps_states_for_small_filters(self, spark):
        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.agg import build_sketch

        keys = spark.range(0, 5000).select(F.format_string("small-%06d", "id").alias("k"))
        factory = BloomSketch.factory(5000, 0.001)
        a = build_sketch(keys, "k", factory, strategy="auto")
        b = build_sketch(keys, "k", factory, strategy="states")
        assert a.dumps() == b.dumps()


class TestCarryColumnsProbe:
    def test_shuffle_probe_matches_broadcast(self, spark, keys_df, sharded):
        """Rows carry their columns through the shuffle probe and answer
        row for row as the reassembled broadcast filter does."""
        b = sharded.contains(keys_df, "k", "hit", strategy="broadcast")
        c = sharded.contains(keys_df, "k", "hit", strategy="shuffle")
        assert c.columns == keys_df.columns + ["hit"]
        assert c.filter("NOT hit").count() == b.filter("NOT hit").count() == 0
        assert c.count() == 30000
        # non-members agree row-for-row
        non = spark.range(0, 8000).select(
            F.format_string("colsprobe-%08d", F.col("id")).alias("k")
        )
        bb = {r["k"]: r["hit"] for r in sharded.contains(non, "k", "hit", strategy="broadcast").collect()}
        cc = {r["k"]: r["hit"] for r in sharded.contains(non, "k", "hit", strategy="shuffle").collect()}
        assert len(cc) == 8000 and bb == cc


class TestImportFromPoppyBytes:
    def test_roundtrip_and_probe(self, spark, keys_df):
        """A single-file filter (as the Rust CLI would produce) imports into
        shard rows, probes with zero FN, and re-exports byte-identically."""
        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.agg import build_sketch

        single = build_sketch(keys_df, "k", BloomSketch.factory(30000, 0.001))
        raw = single.dumps()
        sb = ShardedBloom.from_poppy_bytes(spark, raw, n_shards=5)
        assert sb.to_poppy_bytes() == raw
        assert sb.contains(keys_df, "k", "hit").filter("NOT hit").count() == 0

    def test_rejects_optlevel(self, spark):
        from poppy_spark.core import BloomFilter, OptLevel

        f = BloomFilter.with_params(2, 1000, 0.01, OptLevel.SPEED)
        with pytest.raises(ValueError):
            ShardedBloom.from_poppy_bytes(spark, f.dumps())


class TestShardedStream:
    def test_microbatch_deltas_equal_batch_build(self, spark, tmp_path):
        """Folding 4 micro-batches through ShardedBloomStream yields the
        same poppy bytes as one batch build at any input partition count;
        compaction is idempotent."""
        from pyspark.sql import functions as F

        from poppy_spark.spark.sharded import ShardedBloomStream

        full = spark.range(0, 12000).select(F.format_string("st-%06d", "id").alias("value"))
        single = build_sharded_bloom(full, "value", 12000, 0.001, n_shards=4)
        for parts in (1, 7):
            d = tmp_path / f"sbstream{parts}"
            sink = ShardedBloomStream(str(d), capacity=12000, fpp=0.001, n_shards=4)
            for b in range(4):
                batch = full.filter(F.col("value").substr(4, 10).cast("long") % 4 == b)
                sink(batch.repartition(parts), b)
            merged = sink.current(spark)
            assert merged.to_poppy_bytes() == single.to_poppy_bytes()
            # deltas were appended, not rewritten
            raw_rows = spark.read.parquet(str(d / "shards")).count()
            assert raw_rows > merged.states.count()
            sink.compact(spark)
            compacted = spark.read.parquet(str(d / "shards"))
            assert compacted.count() <= 4
            assert sink.current(spark).to_poppy_bytes() == single.to_poppy_bytes()

    def test_compact_preserves_concurrent_append(self, spark, tmp_path):
        """ADVICE r2: compact must never drop a delta appended while it runs.
        Emulated deterministically: snapshot the delta files compact WOULD
        consume, append another delta, then run compact — the late delta's
        keys must survive (the old read-all/overwrite-all version lost them).
        """
        import glob
        import os

        from pyspark.sql import functions as F

        from poppy_spark.spark.sharded import ShardedBloomStream

        d = str(tmp_path / "race")
        sink = ShardedBloomStream(d, capacity=9000, fpp=0.001, n_shards=3)
        full = spark.range(0, 9000).select(F.format_string("rc-%06d", "id").alias("value"))
        sink(full.filter("id % 3 = 0"), 0)
        sink(full.filter("id % 3 = 1"), 1)

        orig_glob = glob.glob
        appended = {"done": False}

        def racing_glob(pattern, *a, **kw):
            out = orig_glob(pattern, *a, **kw)
            # first call = compact's snapshot; append a delta AFTER it
            if pattern.endswith("*.parquet") and not appended["done"]:
                appended["done"] = True
                sink(full.filter("id % 3 = 2"), 2)
            return out

        glob.glob, _saved = racing_glob, glob.glob
        try:
            sink.compact(spark)
        finally:
            glob.glob = _saved
        assert appended["done"]
        merged = sink.current(spark)
        assert merged.contains(full, "value", "hit").filter("NOT hit").count() == 0
        # no tmp directory left behind
        assert not [p for p in os.listdir(d) if p.startswith(".compact")]
        # second compact (no race) collapses to <= n_shards rows; bytes are
        # unchanged (capture before compacting: a held `current()` handle is
        # lazy over the old file listing, stale by design after a swap)
        before = merged.to_poppy_bytes()
        sink.compact(spark)
        assert spark.read.parquet(os.path.join(d, "shards")).count() <= 3
        assert before == sink.current(spark).to_poppy_bytes()

    def test_reopen_needs_same_params(self, spark, tmp_path):
        """A sink reopened on its directory must carry the sizing the
        directory was made with: deltas of two sizings cannot OR together,
        so a mismatch raises before any append; a restart with the same
        arguments appends on."""
        from poppy_spark.core.params import MergeError
        from poppy_spark.spark.sharded import ShardedBloomStream

        d = str(tmp_path / "reopen")
        full = spark.range(0, 9000).select(F.format_string("ro-%06d", "id").alias("value"))
        ShardedBloomStream(d, capacity=9000, fpp=0.001, n_shards=3)(full.filter("id % 2 = 0"), 0)
        for kw in (dict(capacity=9000, n_shards=4), dict(capacity=20000, n_shards=3)):
            with pytest.raises(MergeError):
                ShardedBloomStream(d, fpp=0.001, **kw)
        sink = ShardedBloomStream(d, capacity=9000, fpp=0.001, n_shards=3)
        sink(full.filter("id % 2 = 1"), 1)
        assert sink.current(spark).contains(full, "value", "hit").filter("NOT hit").count() == 0

    def test_real_stream_foreachbatch(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from poppy_spark.spark.sharded import ShardedBloomStream

        sink = ShardedBloomStream(str(tmp_path / "sbrt"), capacity=5000, fpp=0.001, n_shards=2)
        stream = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 400)
            .option("numPartitions", 4)
            .load()
            .select(F.format_string("rt-%06d", F.col("value")).alias("value"))
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "sbrt-ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        filt = sink.current(spark)
        probes = spark.createDataFrame([(f"rt-{i:06d}",) for i in range(400)], "value string")
        assert filt.contains(probes, "value", "hit").filter("NOT hit").count() == 0


class TestShardedInfo:
    def test_info_and_estimated_p(self, spark, sharded):
        info = sharded.info()
        assert info["capacity"] == 30000 and info["n_shards"] == 7
        assert info["n_touched_shards"] <= info["n_shards"]
        assert 0.0 < sharded.estimated_p() < 0.01
        # filled to exactly its capacity -> full, like poppy's is_full
        assert sharded.is_full()
        assert sharded.capacity == 30000 and sharded.fpp == 0.001

    def test_cli_show_on_saved_dir(self, spark, sharded, tmp_path, capsys):
        from poppy_spark.__main__ import main

        d = str(tmp_path / "showme")
        sharded.save(d)
        assert main(["show", d]) == 0
        out = capsys.readouterr().out
        assert "n_shards: 7" in out and "capacity: 30000" in out

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        gsb = build_sharded_bloom_grouped(
            ev, "user_id", "event_type", capacity=5_000, fpp=0.001, n_shards=4
        )
        d = str(tmp_path / "showme_grouped")
        gsb.save(d)
        assert main(["show", d]) == 0
        out = capsys.readouterr().out
        assert "n_shards: 3" in out and "capacity: 5000" in out
        assert "group_col: event_type" in out


class TestProbeStrategyAuto:
    """Round-3: contains() picks broadcast when the filter fits the budget
    (2.5x faster at bench scale), shuffle otherwise; results identical."""

    def test_auto_picks_broadcast_and_matches_shuffle(self, spark, keys_df, sharded):
        auto = sharded.contains(keys_df, "k", "hit")  # small filter -> broadcast
        shuf = sharded.contains(keys_df, "k", "hit", strategy="shuffle")
        am = {r["k"]: r["hit"] for r in auto.collect()}
        sm = {r["k"]: r["hit"] for r in shuf.collect()}
        assert am == sm
        # mixed members/non-members agree row-for-row too
        mixed = spark.range(29990, 30050).select(
            F.format_string("turn-key-%08d", F.col("id")).alias("k")
        )
        am = {r["k"]: r["hit"] for r in sharded.contains(mixed, "k", "hit").collect()}
        sm = {
            r["k"]: r["hit"]
            for r in sharded.contains(mixed, "k", "hit", strategy="shuffle").collect()
        }
        assert am == sm
        assert sum(am.values()) >= 10  # the 10 members always hit

    def test_auto_respects_budget(self, spark, keys_df, sharded):
        # budget below the filter size -> shuffle path (observable: forcing
        # broadcast under the same budget raises in to_poppy_bytes)
        small_budget = sharded.size_in_bytes() - 1
        out = sharded.contains(
            keys_df, "k", "hit", strategy="auto", broadcast_budget=small_budget
        )
        assert out.filter("NOT hit").count() == 0
        with pytest.raises(MemoryError):
            sharded.contains(
                keys_df, "k", "hit", strategy="broadcast",
                broadcast_budget=small_budget,
            )
        with pytest.raises(ValueError, match="unknown strategy"):
            sharded.contains(keys_df, "k", "hit", strategy="brodcast")

    def test_broadcast_cache_reused(self, spark, keys_df, sharded):
        sharded._poppy_cache = None
        sharded.contains(keys_df, "k", "hit", strategy="broadcast").count()
        raw1 = sharded._poppy_cache
        assert raw1 is not None
        sharded.contains(keys_df, "k", "hit", strategy="broadcast").count()
        assert sharded._poppy_cache is raw1


class TestUnpersist:
    def test_unpersist_releases_states_and_cache(self, spark, keys_df):
        """``unpersist()`` is the release point of a ``persist=True`` build:
        the persisted RDD count returns to its baseline, the reassembled
        broadcast bytes are dropped, and the handle still probes."""
        jsc = spark.sparkContext._jsc
        baseline = jsc.getPersistentRDDs().size()
        sb = build_sharded_bloom(keys_df, "k", capacity=30000, fpp=0.001, n_shards=4)
        assert sb.contains(keys_df, "k", "hit", strategy="broadcast").filter("NOT hit").count() == 0
        assert jsc.getPersistentRDDs().size() == baseline + 1
        assert sb._poppy_cache is not None
        assert sb.unpersist() is sb
        assert jsc.getPersistentRDDs().size() == baseline
        assert sb._poppy_cache is None
        assert sb.contains(keys_df, "k", "hit", strategy="shuffle").filter("NOT hit").count() == 0
        assert jsc.getPersistentRDDs().size() == baseline


class TestGroupedSharded:
    def test_zero_fn_and_group_isolation(self, spark):
        from pyspark.sql import functions as F

        from poppy_spark.spark.sharded import build_sharded_bloom_grouped

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        gsb = build_sharded_bloom_grouped(
            ev, "user_id", "event_type", capacity=5_000, fpp=0.001, n_shards=4
        )
        probed = gsb.contains(ev.select("event_type", "user_id"), "user_id")
        assert probed.filter(~F.col("hit")).count() == 0  # zero FN
        # a group never built answers all-False
        ghost = ev.select(F.lit("no-such-type").alias("event_type"), "user_id")
        assert gsb.contains(ghost, "user_id").filter("hit").count() == 0
        # "auto" is the shuffle probe; a grouped filter has no broadcast one
        auto = gsb.contains(ev.select("event_type", "user_id"), "user_id", strategy="auto")
        assert auto.filter(~F.col("hit")).count() == 0
        for bad in ("broadcast", "brodcast"):
            with pytest.raises(ValueError):
                gsb.contains(ev.select("event_type", "user_id"), "user_id", strategy=bad)

    def test_group_reassembly_byte_equals_classic_build(self, spark):
        from pyspark.sql import functions as F

        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.agg import build_sketch
        from poppy_spark.spark.sharded import build_sharded_bloom_grouped

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        singles = {
            gval: build_sketch(
                ev.filter(F.col("event_type") == gval),
                "user_id",
                BloomSketch.factory(5_000, 0.001),
            ).dumps()
            for gval in ["click", "view"]
        }
        # the per-(group, shard) fold ORs the same bits at any input
        # partitioning
        for parts in (1, 7):
            gsb = build_sharded_bloom_grouped(
                ev.repartition(parts), "user_id", "event_type",
                capacity=5_000, fpp=0.001, n_shards=4,
            )
            assert gsb.params.n_shards > 1
            for gval, single in singles.items():
                assert gsb.reassemble_group(gval) == single, (parts, gval)

    def test_task_memory_is_one_shard(self, spark):
        from poppy_spark.spark.sharded import build_sharded_bloom_grouped

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        gsb = build_sharded_bloom_grouped(
            ev, "user_id", "event_type", capacity=5_000, fpp=0.001, n_shards=4
        )
        from poppy_spark.spark.agg import decompress_blob

        flat = build_sharded_bloom(ev, "user_id", capacity=5_000, fpp=0.001, n_shards=4)
        for sb in (gsb, flat):
            p = sb.params
            for r in sb.states.collect():
                nb = min(p.bps, p.n_buckets - r["shard_id"] * p.bps)
                # every persisted state is exactly one shard's bucket range
                from poppy_spark.core.statekern import BUCKET_SIZE

                assert len(decompress_blob(bytes(r["state"]))) == nb * BUCKET_SIZE

    def test_grouped_union_matches_combined_build(self, spark):
        from pyspark.sql import functions as F

        from poppy_spark.spark.sharded import build_sharded_bloom_grouped

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        kw = dict(capacity=5_000, fpp=0.001, n_shards=4)
        full = build_sharded_bloom_grouped(ev, "user_id", "event_type", **kw)
        for parts in (1, 7):
            lo = ev.filter(F.col("user_id") % 2 == 0).repartition(parts)
            hi = ev.filter(F.col("user_id") % 2 == 1).repartition(parts)
            merged = build_sharded_bloom_grouped(lo, "user_id", "event_type", **kw).union(
                build_sharded_bloom_grouped(hi, "user_id", "event_type", **kw)
            )
            for gval in ["click", "view"]:
                assert merged.reassemble_group(gval) == full.reassemble_group(gval), parts

    def test_grouped_count_estimates(self, spark):
        from pyspark.sql import functions as F

        from poppy_spark.core import loads as core_loads
        from poppy_spark.spark.sharded import build_sharded_bloom_grouped

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        gsb = build_sharded_bloom_grouped(
            ev, "user_id", "event_type", capacity=5_000, fpp=0.001, n_shards=4
        )
        ests = {r["event_type"]: r["estimate"] for r in gsb.count_estimates().collect()}
        for gval, est in ests.items():
            # distributed estimate == count field of the reassembled filter
            filt = core_loads(gsb.reassemble_group(gval))
            assert est == filt.count_estimate
            exact = ev.filter(F.col("event_type") == gval).select("user_id").distinct().count()
            assert abs(est - exact) <= max(2, 0.1 * exact)

    def test_grouped_intersection_parity_with_reassembled(self, spark):
        """Round-4 (verdict #7): per-group intersection must equal
        BloomV2.intersection_merge on the two reassembled group filters —
        byte parity via reassemble_group at any input partition count,
        plus ghost-group vanishing."""
        from pyspark.sql import functions as F

        from poppy_spark.core import loads as core_loads
        from poppy_spark.spark.sharded import build_sharded_bloom_grouped

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        kw = dict(capacity=5_000, fpp=0.001, n_shards=4)
        for parts in (1, 7):
            lo = ev.filter(F.col("user_id") % 3 != 0).repartition(parts)
            hi = ev.filter(F.col("user_id") % 3 != 1).repartition(parts)
            a = build_sharded_bloom_grouped(lo, "user_id", "event_type", **kw)
            # drop one group from side b entirely -> it must vanish from the AND
            b = build_sharded_bloom_grouped(
                hi.filter(F.col("event_type") != "view"), "user_id", "event_type", **kw
            )
            inter = a.intersection(b)
            groups = {r[0] for r in inter.states.select("event_type").distinct().collect()}
            assert groups and "view" not in groups  # one-sided group vanished

            for gval in sorted(groups):
                fa = core_loads(a.reassemble_group(gval))
                fb = core_loads(b.reassemble_group(gval))
                fa.intersection_merge(fb)
                assert inter.reassemble_group(gval) == fa.dumps(), parts

        # a vanished group probes all-False, like a never-built group
        ghost = ev.filter(F.col("event_type") == "view").select(
            "event_type", "user_id"
        )
        assert inter.contains(ghost, "user_id").filter("hit").count() == 0

    def test_grouped_count_common_parity_with_reassembled(self, spark):
        """count_common must equal BloomV2.count_common_entries per group
        on the reassembled filters at any input partition count, and track
        the exact overlap."""
        from pyspark.sql import functions as F

        from poppy_spark.core import loads as core_loads
        from poppy_spark.spark.sharded import build_sharded_bloom_grouped

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        kw = dict(capacity=5_000, fpp=0.001, n_shards=4)
        for parts in (1, 7):
            lo = ev.filter(F.col("user_id") % 3 != 0).repartition(parts)
            hi = ev.filter(F.col("user_id") % 3 != 1).repartition(parts)
            a = build_sharded_bloom_grouped(lo, "user_id", "event_type", **kw)
            b = build_sharded_bloom_grouped(hi, "user_id", "event_type", **kw)
            got = {r["event_type"]: r["estimate"] for r in a.count_common(b).collect()}
            assert got  # at least one overlapping group
            for gval, est in got.items():
                fa = core_loads(a.reassemble_group(gval))
                fb = core_loads(b.reassemble_group(gval))
                assert est == fa.count_common_entries(fb), parts
                exact = (
                    lo.join(hi.select("user_id").distinct(), "user_id", "left_semi")
                    .filter(F.col("event_type") == gval)
                    .select("user_id")
                    .distinct()
                    .count()
                )
                assert abs(est - exact) <= max(5, 0.15 * exact)

    def test_grouped_intersection_param_mismatch_raises(self, spark):
        import pytest as _pytest

        from poppy_spark.core.params import MergeError
        from poppy_spark.spark.sharded import build_sharded_bloom_grouped

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        a = build_sharded_bloom_grouped(
            ev, "user_id", "event_type", capacity=5_000, fpp=0.001, n_shards=4
        )
        b = build_sharded_bloom_grouped(
            ev, "user_id", "event_type", capacity=9_000, fpp=0.001, n_shards=4
        )
        with _pytest.raises(MergeError):
            a.intersection(b)
        with _pytest.raises(MergeError):
            a.count_common(b)

    def test_grouped_save_load_roundtrip(self, spark, tmp_path):
        """Round-4: grouped sharded filters persist (group-partitioned
        parquet + params sidecar) and reload byte-equal; partitioned
        layout lets a single-group read prune at the scan."""
        from pyspark.sql import functions as F

        from poppy_spark.spark.sharded import (
            ShardedBloom,
            build_sharded_bloom_grouped,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        gsb = build_sharded_bloom_grouped(
            ev, "user_id", "event_type", capacity=5_000, fpp=0.001, n_shards=4
        )
        d = str(tmp_path / "gsb")
        gsb.save(d)
        back = ShardedBloom.load(spark, d)
        assert back.params == gsb.params
        assert back.group_col == "event_type"
        assert _meta(spark, d).keys() == FLAT_META | {"group_col", "group_type"}
        for gval in ["click", "view"]:
            assert back.reassemble_group(gval) == gsb.reassemble_group(gval)
        probed = back.contains(ev.select("event_type", "user_id"), "user_id")
        assert probed.filter(~F.col("hit")).count() == 0


class TestAutoCapacity:
    def test_auto_sizes_from_hll_precount(self, spark):
        from poppy_spark.spark.sharded import build_sharded_bloom, estimate_distinct_keys

        n = 30_000
        df = spark.range(n).select(
            F.concat(F.lit("auto-key-"), F.col("id").cast("string")).alias("k")
        )
        # duplicates must not inflate the sizing
        df = df.unionAll(df.limit(5000))
        est = estimate_distinct_keys(df, "k")
        assert abs(est - n) / n < 0.05
        sb = build_sharded_bloom(df, "k", capacity="auto", fpp=0.01)
        assert sb.params.capacity >= est  # headroom applied
        assert sb.params.capacity < int(n * 1.5)
        # zero FN on every inserted key; FP bound holds on absent keys
        probe = spark.range(n).select(
            F.concat(F.lit("auto-key-"), F.col("id").cast("string")).alias("k")
        )
        assert sb.contains(probe, "k", "hit").filter(~F.col("hit")).count() == 0
        absent = spark.range(20_000).select(
            F.concat(F.lit("missing-key-"), F.col("id").cast("string")).alias("k")
        )
        fp = sb.contains(absent, "k", "hit").filter(F.col("hit")).count()
        assert fp / 20_000 < 0.02  # 2x the configured 0.01 bound

    def test_capacity_type_guard(self, spark):
        from poppy_spark.spark.sharded import build_sharded_bloom

        df = spark.range(10).select(F.col("id").cast("string").alias("k"))
        with pytest.raises(TypeError):
            build_sharded_bloom(df, "k", capacity=1.5)


class TestProbeSessionZones:
    """Every shuffle and grouped probe carries a timestamp column through
    under any session zone: Spark sends timestamps tagged with the session
    zone and checks ``applyInArrow`` results against ``tz=UTC``."""

    @pytest.fixture(params=["Etc/UTC", "America/New_York"])
    def zone(self, request, spark):
        key = "spark.sql.session.timeZone"
        before = spark.conf.get(key)
        spark.conf.set(key, request.param)
        yield request.param
        spark.conf.set(key, before)

    @pytest.fixture(scope="class")
    def ts_df(self, spark):
        return spark.range(0, 2000).select(
            (F.col("id") % 5).cast("string").alias("g"),
            F.format_string("tz-key-%06d", "id").alias("k"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 37).alias("ts"),
        )

    def _check(self, probed, ts_df):
        got = sorted((r["k"], r["ts"], r["hit"]) for r in probed.collect())
        want = sorted((r["k"], r["ts"], True) for r in ts_df.collect())
        assert got == want
        assert probed.schema["ts"].dataType == ts_df.schema["ts"].dataType

    def test_sharded_shuffle_probes(self, spark, zone, ts_df):
        sb = build_sharded_bloom(ts_df, "k", capacity=2000, fpp=0.001, n_shards=4)
        self._check(sb.contains(ts_df, "k", strategy="shuffle"), ts_df)

    def test_grouped_probes(self, spark, zone, ts_df):
        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.agg import build_sketch_grouped
        from poppy_spark.spark.probe import bloom_contains_grouped_join
        from poppy_spark.spark.sharded import build_sharded_bloom_grouped

        gsb = build_sharded_bloom_grouped(
            ts_df, "k", "g", capacity=2000, fpp=0.001, n_shards=2
        )
        self._check(gsb.contains(ts_df, "k"), ts_df)
        states = build_sketch_grouped(ts_df, "k", ["g"], BloomSketch.factory(2000, 0.001))
        self._check(bloom_contains_grouped_join(ts_df, "k", "g", states), ts_df)
