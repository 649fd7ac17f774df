"""Spark-level tests: two-phase aggregation, broadcast probe, grouped builds,
and the north-rule merge-determinism property (identical final state bytes
across independent partition orderings)."""

import pytest

from pyspark.sql import functions as F

from poppy_spark.sketches import BloomSketch, CmsSketch, HllSketch, KllSketch, TDigestSketch
from poppy_spark.spark.agg import (
    build_sketch,
    build_sketch_df,
    build_sketch_grouped,
    sketch_value_column,
)
from poppy_spark.spark.probe import bloom_anti_join, bloom_contains, bloom_semi_join


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet").cache()


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet").cache()


class TestBloomBuildProbe:
    def test_zero_false_negatives_semi_join(self, spark, orders, lineitem):
        n = orders.count()
        sk = build_sketch(orders, "o_orderkey", BloomSketch.factory(n, 0.001))
        # every lineitem orderkey exists in orders -> zero misses allowed
        assert bloom_anti_join(lineitem, "l_orderkey", sk.dumps()).count() == 0
        assert bloom_semi_join(lineitem, "l_orderkey", sk.dumps()).count() == lineitem.count()

    def test_distributed_equals_driver_build(self, spark, orders):
        """treeReduce result == local sequential build (after count norm)."""
        n = orders.count()
        dist = build_sketch(orders, "o_orderkey", BloomSketch.factory(n, 0.001))
        keys = [str(r[0]) for r in orders.select("o_orderkey").collect()]
        local = BloomSketch.create(n, 0.001)
        local.update_keys(keys)
        local.filter.update_count()  # distributed path re-estimates after merge
        assert dist.dumps() == local.dumps()

    def test_partition_ordering_determinism(self, spark, orders):
        """North rule: byte-identical final state across independent
        partition orderings (merge associativity + commutativity)."""
        n = orders.count()
        factory = BloomSketch.factory(n, 0.001)
        states = []
        for parts in (3, 7, 16):
            sk = build_sketch(orders.repartition(parts), "o_orderkey", factory)
            states.append(sk.dumps())
        assert states[0] == states[1] == states[2]

    def test_merge_tree_multi_stage(self, spark, orders):
        n = orders.count()
        df = build_sketch_df(
            orders.repartition(16), "o_orderkey", BloomSketch.factory(n, 0.001), merge_fanout=4
        )
        rows = df.collect()
        assert len(rows) == 1
        assert rows[0]["n_rows"] == n

    def test_fpr_bound_on_probes(self, spark, orders, lineitem):
        n = orders.count()
        sk = build_sketch(orders, "o_orderkey", BloomSketch.factory(n, 0.01))
        # non-member probes: synthetic keys guaranteed absent
        probes = lineitem.select(
            F.concat(F.lit("absent-key-"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")).alias("p")
        )
        n_probes = probes.count()
        fp = bloom_contains(probes, "p", sk.dumps(), "hit").filter("hit").count()
        assert fp / n_probes <= 0.01 * 2.0, f"fp rate {fp / n_probes}"


class TestGrouped:
    def test_grouped_bloom_counts(self, spark, orders):
        factory = BloomSketch.factory(2000, 0.001)
        g = build_sketch_grouped(orders, "o_orderkey", ["o_orderpriority"], factory)
        got = {
            r["o_orderpriority"]: (r["n_rows"], r["est"])
            for r in sketch_value_column(g, BloomSketch, "est").collect()
        }
        exact = dict(orders.groupBy("o_orderpriority").count().collect())
        assert set(got) == set(exact)
        for k, (n_rows, est) in got.items():
            assert n_rows == exact[k]
            # count field is re-estimated from popcount after the merge
            # (update_count semantics) — formula error grows with load
            assert est == pytest.approx(exact[k], rel=0.10)

    def test_grouped_hll_distinct(self, spark, sf_dir):
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        g = build_sketch_grouped(events, "user_id", ["event_type"], HllSketch.factory(12))
        got = {r["event_type"]: r["est"] for r in sketch_value_column(g, HllSketch, "est").collect()}
        exact = {
            r["event_type"]: r["n"]
            for r in events.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        for k, est in got.items():
            assert est == pytest.approx(exact[k], rel=3 * 1.04 / (2**6)), k


class TestValueSketchesOnSpark:
    def test_kll_quantile_bound(self, spark, sf_dir):
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        sk = build_sketch(events, "value", KllSketch.factory(200))
        n = events.count()
        for q in (0.1, 0.5, 0.9):
            est = sk.quantile(q)
            true_rank = events.filter(F.col("value") <= est).count() / n
            assert abs(true_rank - q) <= sk.eps() + 0.002, q

    def test_tdigest_quantile(self, spark, sf_dir):
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        sk = build_sketch(events, "value", TDigestSketch.factory(200))
        n = events.count()
        est = sk.quantile(0.99)
        true_rank = events.filter(F.col("value") <= est).count() / n
        assert abs(true_rank - 0.99) < 0.005

    def test_cms_frequencies(self, spark, sf_dir):
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        sk = build_sketch(events, "event_type", CmsSketch.factory(w=65536, d=5))
        exact = dict(events.groupBy("event_type").count().collect())
        n = sum(exact.values())
        assert sk.total() == n
        est = sk.query_keys(list(exact))
        for i, k in enumerate(exact):
            assert exact[k] <= est[i] <= exact[k] + sk.eps * n


class TestGroupedProbeAndSalting:
    def test_grouped_probe_routes_to_own_filter(self, spark, orders):
        from poppy_spark.spark.probe import bloom_contains_grouped

        states = build_sketch_grouped(
            orders, "o_orderkey", ["o_orderpriority"], BloomSketch.factory(2000, 0.001)
        )
        probed = bloom_contains_grouped(
            orders, "o_orderkey", "o_orderpriority", states, "hit"
        )
        # every key probes its own group's filter: all hits
        assert probed.filter(~F.col("hit")).count() == 0
        # keys probed against the WRONG group must mostly miss
        wrong = orders.withColumn(
            "o_orderpriority",
            F.when(F.col("o_orderpriority") == "1-URGENT", "5-LOW").otherwise("1-URGENT"),
        )
        wrong_hits = bloom_contains_grouped(
            wrong, "o_orderkey", "o_orderpriority", states, "hit"
        ).filter("hit").count()
        assert wrong_hits < orders.count() * 0.05

    def test_unknown_group_probes_false(self, spark, orders):
        from poppy_spark.spark.probe import bloom_contains_grouped

        states = build_sketch_grouped(
            orders, "o_orderkey", ["o_orderpriority"], BloomSketch.factory(2000, 0.001)
        )
        ghost = orders.withColumn("o_orderpriority", F.lit("9-GHOST"))
        assert (
            bloom_contains_grouped(ghost, "o_orderkey", "o_orderpriority", states, "hit")
            .filter("hit")
            .count()
            == 0
        )

    def test_salted_repartition_spreads_hot_key(self, spark):
        from poppy_spark.spark.agg import repartition_salted
        from poppy_spark.data.transcripts import generate_transcripts

        t = generate_transcripts(spark, n_convs=200, seed=42)
        salted = repartition_salted(t, "conv_id", 16, salt_buckets=16)
        import pyarrow as pa

        def sizes(batches):
            n = 0
            for b in batches:
                n += b.num_rows
            yield pa.RecordBatch.from_arrays([pa.array([n], pa.int64())], ["n"])

        per_part = [
            r["n"] for r in salted.select("conv_id").mapInArrow(sizes, "n long").collect()
        ]
        hot = t.filter(F.col("conv_id") == "conv-00000000").count()
        # without salting the hot conversation (~5% of rows) lands on one
        # partition; with salting no partition holds it all
        assert max(per_part) < hot + (t.count() - hot)  # sanity
        assert max(per_part) <= t.count() / 16 * 3

    def test_bloom_build_same_result_salted(self, spark, orders):
        from poppy_spark.spark.agg import repartition_salted

        n = orders.count()
        factory = BloomSketch.factory(n, 0.001)
        plain = build_sketch(orders, "o_orderkey", factory)
        salted = build_sketch(
            repartition_salted(orders, "o_custkey", 12, 8), "o_orderkey", factory
        )
        assert plain.dumps() == salted.dumps()


class TestCatalogSeam:
    def test_parquet_uris(self, spark, sf_dir, tmp_path):
        from poppy_spark.spark.catalog import iceberg_available, load_table, write_table

        df = load_table(spark, f"{sf_dir}/region.parquet")
        assert df.count() > 0
        df2 = load_table(spark, f"parquet://{sf_dir}/region.parquet")
        assert df2.count() == df.count()
        out = str(tmp_path / "roundtrip")
        write_table(df, f"parquet://{out}", mode="overwrite")
        assert load_table(spark, out).count() == df.count()
        if not iceberg_available(spark):
            import pytest as _pytest

            with _pytest.raises(RuntimeError):
                load_table(spark, "iceberg://cat.db.t")


class TestBinaryKeyProbe:
    def test_non_utf8_binary_zero_false_negatives(self, spark):
        """Build and probe over a BINARY column holding non-UTF8 bytes: the
        probe path must hash the same raw bytes as the build (no string
        cast), preserving the zero-FN contract."""
        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.agg import build_sketch
        from poppy_spark.spark.probe import bloom_contains

        keys = [bytes([0xFF, 0xFE, i % 256, (i * 7) % 256, 0x80]) + i.to_bytes(4, "big") for i in range(500)]
        df = spark.createDataFrame([(k,) for k in keys], "key binary")
        sk = build_sketch(df, "key", BloomSketch.factory(500, 0.001))
        # driver-side check against the same raw bytes
        assert all(sk.filter.contains_batch(keys))
        missed = (
            bloom_contains(df, "key", sk.dumps(), "hit")
            .filter("NOT hit")
            .count()
        )
        assert missed == 0

    def test_filter_cache_bounded(self):
        from poppy_spark.spark import probe as P

        P._FILTER_CACHE.clear()
        for i in range(50):
            P._cache_put(f"k{i}", i)
        assert len(P._FILTER_CACHE) <= P._FILTER_CACHE_MAX
        # most-recent keys survive
        assert "k49" in P._FILTER_CACHE


class TestIntKeysLe8:
    def test_le8_build_probe_zero_fn_and_rust_compat(self, spark, orders):
        """int_keys='le8': the distributed filter over a bigint column equals
        a driver-side filter over the keys' LE bytes (Rust typed-key
        compatibility), and the le8 probe has zero FN."""
        from poppy_spark.core import BloomFilter
        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.agg import build_sketch
        from poppy_spark.spark.probe import bloom_contains

        n = orders.count()
        dist = build_sketch(
            orders, "o_orderkey", BloomSketch.factory(n, 0.001), int_keys="le8"
        )
        keys = [int(r[0]) for r in orders.select("o_orderkey").collect()]
        local = BloomFilter.with_capacity(n, 0.001)
        local.insert_batch([k.to_bytes(8, "little") for k in keys])
        local.update_count()
        assert dist.dumps() == local.dumps()
        missed = (
            bloom_contains(orders, "o_orderkey", dist.dumps(), "hit", int_keys="le8")
            .filter("NOT hit")
            .count()
        )
        assert missed == 0

    def test_le8_refuses_non_integral(self, spark, orders):
        from poppy_spark.spark.agg import _as_key

        with pytest.raises(TypeError):
            _as_key(orders, "o_totalprice", int_keys="le8")


class TestGroupedJoinProbe:
    def test_join_probe_matches_broadcast_probe(self, spark):
        """High-cardinality grouped probe (cogrouped shuffle join) returns
        the same hits as the broadcast variant, zero FN per group."""
        from pyspark.sql import functions as F

        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.agg import build_sketch_grouped
        from poppy_spark.spark.probe import (
            bloom_contains_grouped,
            bloom_contains_grouped_join,
        )

        df = spark.range(0, 20000).select(
            (F.col("id") % 500).cast("string").alias("g"),
            F.format_string("gk-%06d", "id").alias("k"),
        )
        states = build_sketch_grouped(df, "k", ["g"], BloomSketch.factory(20000, 0.001))
        joined = bloom_contains_grouped_join(df, "k", "g", states, "hit")
        assert joined.count() == 20000
        assert joined.filter("NOT hit").count() == 0
        bcast = bloom_contains_grouped(df, "k", "g", states, "hit")
        assert (
            joined.filter("hit").count() == bcast.filter("hit").count() == 20000
        )

    def test_join_probe_unknown_group_false(self, spark):
        from pyspark.sql import functions as F

        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.agg import build_sketch_grouped
        from poppy_spark.spark.probe import bloom_contains_grouped_join

        df = spark.range(0, 1000).select(
            (F.col("id") % 4).cast("string").alias("g"),
            F.format_string("jk-%05d", "id").alias("k"),
        )
        states = build_sketch_grouped(df, "k", ["g"], BloomSketch.factory(1000, 0.001))
        alien = df.withColumn("g", F.lit("no-such-group"))
        probed = bloom_contains_grouped_join(alien, "k", "g", states, "hit")
        assert probed.filter("hit").count() == 0
        assert probed.count() == 1000


class TestNanNullGroupKeys:
    """A double group column holding NaN, NULL and ordinary values: Spark
    groups every NaN together and every NULL together, and so must the
    grouped build (both shuffle shapes) and the grouped-join probe."""

    @pytest.fixture(scope="class")
    def planted(self, spark):
        return spark.range(0, 3000).select(
            F.when(F.col("id") % 5 == 0, F.lit(float("nan")))
            .when(F.col("id") % 5 == 1, F.lit(None).cast("double"))
            .otherwise((F.col("id") % 3).cast("double"))
            .alias("g"),
            F.format_string("planted-key-%06d", "id").alias("k"),
        ).repartition(7)

    @staticmethod
    def _by_group(rows, col):
        out = {}
        for r in rows:
            g = r["g"]
            g = "NaN" if g is not None and g != g else g
            assert g not in out, f"group {g!r} emitted twice"
            out[g] = r[col]
        return out

    @pytest.mark.parametrize("shuffle", ["states", "rows"])
    def test_one_row_per_spark_group(self, spark, planted, shuffle):
        from poppy_spark.spark.probe import bloom_contains_grouped_join

        states = build_sketch_grouped(
            planted, "k", ["g"], BloomSketch.factory(3000, 0.001), shuffle=shuffle
        )
        exact = self._by_group(planted.groupBy("g").count().collect(), "count")
        assert set(exact) == {"NaN", None, 0.0, 1.0, 2.0}
        assert self._by_group(states.collect(), "n_rows") == exact
        probed = bloom_contains_grouped_join(planted, "k", "g", states)
        assert probed.count() == 3000
        assert probed.filter("NOT hit").count() == 0

    def test_shapes_byte_equal(self, spark, planted):
        factory = BloomSketch.factory(3000, 0.001)
        by_shape = [
            self._by_group(
                build_sketch_grouped(planted, "k", ["g"], factory, shuffle=s).collect(),
                "state",
            )
            for s in ("states", "rows")
        ]
        assert by_shape[0] == by_shape[1]


class TestSqlRegistration:
    def test_bloom_probe_from_pure_sql(self, spark, orders):
        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.agg import build_sketch
        from poppy_spark.spark.probe import register_bloom_sql

        n = orders.count()
        sk = build_sketch(orders, "o_orderkey", BloomSketch.factory(n, 0.001))
        register_bloom_sql(spark, "seen_order", sk.dumps())
        orders.createOrReplaceTempView("orders_v")
        hit = spark.sql(
            "SELECT COUNT(*) AS n FROM orders_v WHERE seen_order(CAST(o_orderkey AS STRING))"
        ).collect()[0]["n"]
        assert hit == n
        miss = spark.sql(
            "SELECT COUNT(*) AS n FROM orders_v "
            "WHERE seen_order(CONCAT('nope-', CAST(o_orderkey AS STRING)))"
        ).collect()[0]["n"]
        assert miss <= n * 0.002 * 2


class TestCatalogFormats:
    def test_native_format_roundtrips(self, spark, tmp_path):
        """Every fmt:// URI the seam claims roundtrips a small table and
        feeds a build; text:// mirrors the reference CLI's line shape."""
        from pyspark.sql import functions as F

        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.agg import build_sketch
        from poppy_spark.spark.catalog import load_table, write_table

        df = spark.range(0, 300).select(
            F.col("id"), F.format_string("cat-%05d", "id").alias("k")
        )
        for fmt in ("parquet", "orc", "json", "csv"):
            uri = f"{fmt}://{tmp_path}/t_{fmt}"
            write_table(df, uri, mode="overwrite")
            back = load_table(spark, uri)
            assert back.count() == 300
            assert set(back.columns) == {"id", "k"}
        # text: one entry per line, column `value`
        write_table(df.select(F.col("k").alias("value")), f"text://{tmp_path}/t_text", mode="overwrite")
        lines = load_table(spark, f"text://{tmp_path}/t_text")
        assert lines.columns == ["value"] and lines.count() == 300
        sk = build_sketch(lines, "value", BloomSketch.factory(300, 0.01))
        assert sk.filter.contains_bytes(b"cat-00042")


class TestAutoStrategyHoisted:
    """Round-3: the states-vs-sharded cost model lives in build_sketch_df
    (the lazy/composable form) too, not just the driver-returning
    build_sketch."""

    def test_df_sharded_bytes_equal_states(self, spark, orders):
        from poppy_spark.spark.agg import build_sketch_df

        n = orders.count()
        fac = BloomSketch.factory(n, 0.001)
        st = build_sketch_df(orders, "o_orderkey", fac, strategy="states").collect()[0]
        sh = build_sketch_df(orders, "o_orderkey", fac, strategy="sharded").collect()[0]
        assert bytes(st["state"]) == bytes(sh["state"])
        assert st["n_rows"] == orders.count()
        # n_rows on the sharded path counts deduped index tuples (diagnostic)

    def test_df_auto_picks_sharded_for_big_filter(self, spark):
        from poppy_spark.spark.agg import _auto_strategy, _spread

        # at fpp=1e-3 a v2 state is ~1.8 B/key; tuples are ~(12+2k) B/key, so
        # states traffic passes 4x tuple traffic past ~72 partitions
        big = BloomSketch.create(50_000_000, 0.001)  # ~90 MB state
        small = BloomSketch.create(10_000, 0.001)
        df = spark.range(0, 1000).selectExpr("cast(id as string) as k").repartition(256)
        assert _auto_strategy(big, _spread(df)[1]) == "sharded"
        assert _auto_strategy(small, _spread(df)[1]) == "states"
        few = df.coalesce(4)
        assert _auto_strategy(big, _spread(few)[1]) == "states"

    def test_df_auto_end_to_end_loadable(self, spark, orders):
        from poppy_spark.spark.agg import build_sketch_df

        n = orders.count()
        row = build_sketch_df(
            orders, "o_orderkey", BloomSketch.factory(n, 0.001), strategy="auto"
        ).collect()[0]
        sk = BloomSketch.loads(bytes(row["state"]))
        assert sk.filter.capacity == n


class TestGroupedFlushBudget:
    """Round-3: grouped builds flush partial states when the task's live
    state dict exceeds the budget — bounded memory at any group cardinality."""

    def test_flushed_equals_unflushed(self, spark, orders):
        from poppy_spark.spark.agg import build_sketch_grouped

        fac = BloomSketch.factory(2000, 0.01)
        a = build_sketch_grouped(orders, "o_orderkey", ["o_orderpriority"], fac)
        # budget of 1 byte => flush after every input batch
        b = build_sketch_grouped(
            orders, "o_orderkey", ["o_orderpriority"], fac, max_task_state_bytes=1
        )
        am = {r["o_orderpriority"]: bytes(r["state"]) for r in a.collect()}
        bm = {r["o_orderpriority"]: bytes(r["state"]) for r in b.collect()}
        assert am == bm

    def test_high_cardinality_groups_bounded(self, spark):
        """~10^4 distinct groups with a tiny flush budget: the build must
        succeed (pre-round-3 this held 10^4 states live per task) and every
        group's filter must contain its own keys."""
        from pyspark.sql import functions as F

        from poppy_spark.spark.agg import build_sketch_grouped
        from poppy_spark.spark.probe import bloom_contains_grouped_join

        df = (
            spark.range(0, 40_000)
            .select(
                F.format_string("conv-%05d", F.col("id") % 10_000).alias("conv"),
                F.format_string("turn-text-%08d", F.col("id")).alias("text"),
            )
            .repartition(8)
        )
        fac = BloomSketch.factory(16, 0.01)
        states = build_sketch_grouped(
            df, "text", ["conv"], fac, max_task_state_bytes=4096
        )
        assert states.count() == 10_000
        hits = bloom_contains_grouped_join(df, "text", "conv", states)
        assert hits.filter("NOT hit").count() == 0

    def test_compact_wire_sketches_flush_on_populated_bound(self, spark, orders):
        """Round-4 advice: Theta/KLL/TopK/TDigest have tiny EMPTY wire
        forms; the flush guard must budget their POPULATED size (the
        memory_bound_bytes overrides), and a flush-heavy build must equal
        the unflushed one — multiple partials per group merge freely."""
        from poppy_spark.sketches import KllSketch, ThetaSketch, TopKSketch
        from poppy_spark.spark.agg import build_sketch_grouped

        # theta's k-smallest-distinct merge is merge-tree invariant: exact
        # value equality; KLL (seeded compaction) and TopK (Misra-Gries
        # decrements) are only bound-invariant: compare the exactly-
        # preserved totals instead
        for fac, cls, close in (
            (ThetaSketch.factory(256), ThetaSketch, lambda s: sorted(s.values.tolist())),
            (KllSketch.factory(64), KllSketch, lambda s: s.n),
            (TopKSketch.factory(32), TopKSketch, lambda s: s.n_total),
        ):
            a = build_sketch_grouped(orders, "o_custkey", ["o_orderpriority"], fac)
            b = build_sketch_grouped(
                orders, "o_custkey", ["o_orderpriority"], fac,
                max_task_state_bytes=1,  # flush after every batch
            )
            am = {r["o_orderpriority"]: close(cls.loads(bytes(r["state"]))) for r in a.collect()}
            bm = {r["o_orderpriority"]: close(cls.loads(bytes(r["state"]))) for r in b.collect()}
            assert am == bm, cls.__name__
