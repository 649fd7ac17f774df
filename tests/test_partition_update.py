"""The one per-partition sketch update (``agg._partition_update``) and the
callers routed onto it: the flat build (``build_sketch_df``/``build_sketch``),
the grouped build (both shuffle shapes), the profile's multi-sketch pass and
the checkpointed build.  Pins their edge semantics (empty input, NULL keys),
the flush rule, the parameter-derived memory bounds of fixed-size sketches,
and the spread of low-split inputs over the cores."""

import uuid

import pyarrow as pa
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from poppy_spark.sketches import BloomSketch, CmsSketch, HllSketch, MinHashSketch
from poppy_spark.spark.agg import build_sketch, build_sketch_df, build_sketch_grouped
from poppy_spark.spark.checkpoint import SketchCheckpoint
from poppy_spark.spark.profile import build_sketches_multi

SCHEMA = T.StructType(
    [T.StructField("g", T.IntegerType()), T.StructField("k", T.StringType())]
)
BLOOM = BloomSketch.factory(1000, 0.01)
HLL = HllSketch.factory(12)


def _frame(spark, rows, parts):
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), SCHEMA)


def _fresh(factory):
    sk = factory()
    sk.finalize_merge()
    return sk.dumps()


@pytest.mark.parametrize("parts", [1, 7])
class TestEdgeSemantics:
    """Empty input and NULL keys through every routed caller, at one and
    seven input partitions."""

    def test_empty_input(self, spark, parts, tmp_path):
        empty = _frame(spark, [], parts)
        for fac in (BLOOM, HLL):
            rows = build_sketch_df(empty, "k", fac).collect()
            assert [(r["n_rows"], bytes(r["state"])) for r in rows] == [(0, _fresh(fac))]
            assert build_sketch(empty, "k", fac).dumps() == _fresh(fac)
            for shuffle in ("states", "rows"):
                assert build_sketch_grouped(empty, "k", ["g"], fac, shuffle=shuffle).count() == 0
        multi = build_sketches_multi(empty, {"hll:k": ("k", HLL), "bloom:k": ("k", BLOOM)})
        assert {n: c for n, (_, c) in multi.items()} == {"hll:k": 0, "bloom:k": 0}
        assert multi["hll:k"][0].result() == 0
        ck = SketchCheckpoint(str(tmp_path / "ck"), HLL)
        for _ in ("fresh", "resumed"):
            assert ck.build(empty, "k").dumps() == _fresh(HLL)
            assert ck.metrics()["total_rows"] == 0

    def test_empty_input_every_strategy(self, spark, parts):
        """An empty input gives one state row under every flat strategy:
        the empty filter, byte-equal across them and to ``build_sketch``."""
        empty = _frame(spark, [], parts)
        rows = {}
        for s in ("states", "sharded", "auto"):
            built = build_sketch_df(empty, "k", BLOOM, strategy=s).collect()
            rows[s] = [(r["n_rows"], bytes(r["state"])) for r in built]
        assert rows["states"] == [(0, _fresh(BLOOM))]
        assert rows["sharded"] == rows["auto"] == rows["states"]
        for s in rows:
            assert build_sketch(empty, "k", BLOOM, strategy=s).dumps() == _fresh(BLOOM)

    def test_input_emptied_at_runtime(self, spark, parts):
        """An input that only turns out empty when its shuffle stage runs
        (AQE then drops the plan above that stage) still gives the one
        empty-sketch row, byte-equal to a statically empty input's; a
        non-empty input of the same plan shape still merges every key."""
        keys = _frame(spark, [(i % 3, f"k{i}") for i in range(60)], parts)
        emptied = keys.dropDuplicates(["k"]).filter("k = 'x'")
        kept = keys.dropDuplicates(["k"]).filter("k != 'x'")
        for fac in (BLOOM, HLL):
            rows = build_sketch_df(emptied, "k", fac).collect()
            assert [(r["n_rows"], bytes(r["state"])) for r in rows] == [(0, _fresh(fac))]
            assert build_sketch(emptied, "k", fac).dumps() == _fresh(fac)
            assert (
                build_sketch(kept, "k", fac).dumps()
                == build_sketch(keys, "k", fac, strategy="states").dumps()
            )

    def test_null_keys_are_values(self, spark, parts, tmp_path):
        """In the build verbs a NULL key counts in ``n_rows`` and hashes
        like any other key; the profile drops NULLs per column."""
        df = _frame(spark, [(1, None), (1, "x"), (1, None)], parts)
        rows = build_sketch_df(df, "k", BLOOM).collect()
        assert [r["n_rows"] for r in rows] == [3]
        assert BloomSketch.loads(bytes(rows[0]["state"])).filter.contains_batch(["x"]) == [True]
        assert build_sketch(df, "k", HLL).result() == 2
        for shuffle in ("states", "rows"):
            (g,) = build_sketch_grouped(df, "k", ["g"], HLL, shuffle=shuffle).collect()
            assert (g["g"], g["n_rows"], HllSketch.loads(bytes(g["state"])).result()) == (1, 3, 2)
        (sk, n) = build_sketches_multi(df, {"hll:k": ("k", HLL)})["hll:k"]
        assert (sk.result(), n) == (1, 1)
        ck = SketchCheckpoint(str(tmp_path / "ck"), HLL)
        for _ in ("fresh", "resumed"):
            assert ck.build(df, "k").result() == 2
            assert ck.metrics()["total_rows"] == 3


def _batch(groups, keys):
    return pa.RecordBatch.from_arrays([pa.array(groups), pa.array(keys)], ["g", "k"])


class TestFlushRule:
    def test_only_live_state_is_never_flushed(self):
        from poppy_spark.spark.agg import _partition_update

        one = [_batch([5, 5], ["a", "b"])] * 3
        two = [_batch([1, 2, 1], ["a", "b", "c"])] * 3
        fac = CmsSketch.factory(64, 2)
        assert len(list(_partition_update(iter(one), 1, [fac], max_bytes=1))) == 1
        # two live states over budget: both flush after every batch
        assert len(list(_partition_update(iter(two), 1, [fac], max_bytes=1))) == 6
        assert len(list(_partition_update(iter(two), 1, [fac]))) == 2

    def test_one_group_emits_one_partial_per_partition(self, spark):
        from poppy_spark.spark.agg import _update_states

        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        prev = spark.conf.get(key)
        spark.conf.set(key, "100")  # ten batches per input partition
        try:
            df = spark.range(0, 4000, numPartitions=4).select(
                F.lit(7).alias("g"), F.format_string("key-%08d", "id").alias("k")
            )
            fac = HllSketch.factory(12)
            partials = _update_states(df, 1, [fac], max_bytes=1)
            assert partials.count() == 4
            a = build_sketch_grouped(df, "k", ["g"], fac).collect()
            b = build_sketch_grouped(df, "k", ["g"], fac, max_task_state_bytes=1).collect()
            assert [(r["n_rows"], bytes(r["state"])) for r in a] == [
                (r["n_rows"], bytes(r["state"])) for r in b
            ]
        finally:
            spark.conf.set(key, prev)


@pytest.mark.parametrize(
    "factory, bound",
    [
        (BloomSketch.factory(5000, 0.01, version=1), lambda s: s.filter.size_in_bytes()),
        (BloomSketch.factory(5000, 0.01, version=2), lambda s: s.filter.size_in_bytes()),
        (CmsSketch.factory(8192, 5), lambda s: 8 * 8192 * 5),
        (MinHashSketch.factory(64), lambda s: 8 * 64),
    ],
    ids=["bloom-v1", "bloom-v2", "cms", "minhash"],
)
def test_fixed_size_bound_never_serializes(monkeypatch, factory, bound):
    """Fixed-size sketches take their memory bound from their parameters:
    the grouped update re-estimates after every batch, and must not copy a
    whole state each time."""
    from poppy_spark.spark.agg import _partition_update

    sk = factory()
    wire = len(sk.dumps())
    assert wire - 64 <= sk.memory_bound_bytes() == bound(sk) <= wire

    def boom(self):
        raise AssertionError("memory_bound_bytes serialized the state")

    monkeypatch.setattr(type(sk), "dumps", boom)
    assert sk.memory_bound_bytes() == bound(sk)
    two = [_batch([1, 2, 1], ["a", "b", "c"])] * 3
    out = list(_partition_update(iter(two), 1, [factory], max_bytes=1))
    got = [([h[j].as_py() for h in heads], n) for (heads, j), _, _, n in out]
    assert got == [([1], 2), ([2], 1)] * 3


def _max_stage_tasks(spark, run):
    """Most tasks of any stage of the jobs ``run`` starts."""
    sc = spark.sparkContext
    group = f"spread-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    stages = [s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds]
    return max(st.getStageInfo(s).numTasks for s in stages)


class TestSpread:
    """A one-split input runs each update as ``defaultParallelism`` tasks;
    an explicit ``repartition`` pins the count.  Shuffle partitions are set
    below both, so the fold stages never reach either count."""

    @pytest.fixture()
    def one_split(self, spark):
        key = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(key)
        spark.conf.set(key, "2")
        df = spark.range(0, 3000, numPartitions=1).select(
            (F.col("id") % 5).alias("g"), F.format_string("key-%08d", "id").alias("k")
        )
        yield df
        spark.conf.set(key, prev)

    def test_one_split_runs_on_every_core(self, spark, one_split):
        from poppy_spark.spark.sharded import build_sharded_bloom

        cores = spark.sparkContext.defaultParallelism
        assert cores > 3
        fac = BloomSketch.factory(3000, 0.01)
        runs = {
            "flat": lambda: build_sketch_df(one_split, "k", fac, strategy="states").collect(),
            "grouped": lambda: build_sketch_grouped(one_split, "k", ["g"], fac).collect(),
            "sharded": lambda: build_sharded_bloom(
                one_split, "k", 3000, 0.01, n_shards=2, persist=False
            ).states.collect(),
        }
        assert {name: _max_stage_tasks(spark, run) for name, run in runs.items()} == dict.fromkeys(
            runs, cores
        )

    def test_explicit_repartition_pins_task_count(self, spark, one_split):
        fac = BloomSketch.factory(3000, 0.01)
        runs = {
            "flat": lambda: build_sketch_df(one_split, "k", fac, repartition=3).collect(),
            "grouped": lambda: build_sketch_grouped(
                one_split, "k", ["g"], fac, repartition=3
            ).collect(),
        }
        assert {name: _max_stage_tasks(spark, run) for name, run in runs.items()} == dict.fromkeys(
            runs, 3
        )


class TestSpreadExchanged:
    """``_spread`` over a plan whose exchanges AQE runs reads no partition
    count, so it submits no job: a ``repartition(n)`` count is read from
    the plan and kept as the parent kept it, any other such input is
    spread over the cores (AQE may coalesce a small one below them), and
    the flat build over it stays byte-equal."""

    @pytest.fixture()
    def exchanged(self, spark):
        return spark.range(0, 4000, numPartitions=3).select(
            F.format_string("key-%08d", F.col("id") % 1500).alias("k")
        ).distinct()

    @staticmethod
    def _no_job(spark, df, repartition=None):
        from poppy_spark.spark.agg import _spread

        sc = spark.sparkContext
        group = f"spread-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = _spread(df, repartition)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        return out

    def test_no_job_for_an_exchanged_plan(self, spark, exchanged):
        dp = spark.sparkContext.defaultParallelism
        spread, n = self._no_job(spark, exchanged)
        assert n == dp == spread.rdd.getNumPartitions()
        assert self._no_job(spark, exchanged, 3)[0].rdd.getNumPartitions() == 3

    def test_repartition_count_read_from_the_plan(self, spark, exchanged):
        dp = spark.sparkContext.defaultParallelism
        wide = exchanged.repartition(dp + 3).select("k")
        spread, n = self._no_job(spark, wide)
        assert spread is wide and n == dp + 3 == spread.rdd.getNumPartitions()
        spread, n = self._no_job(spark, exchanged.repartition(2, "k"))
        assert n == dp == spread.rdd.getNumPartitions()
        spread, n = self._no_job(spark, wide.coalesce(2))
        assert n == dp == spread.rdd.getNumPartitions()

    def test_flat_build_byte_equal(self, spark, exchanged):
        fac = BloomSketch.factory(1500, 0.01)
        keys = spark.createDataFrame(exchanged.collect(), exchanged.schema).repartition(1)
        assert keys.count() == 1500
        assert (
            build_sketch(exchanged, "k", fac, strategy="states").dumps()
            == build_sketch(keys, "k", fac, strategy="states").dumps()
        )
