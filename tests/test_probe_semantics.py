"""Planted semantics every membership probe name shares: the flat sharded
filter probed by broadcast and by shuffle, and the three per-group probes
(grouped ``ShardedBloom.contains``, ``bloom_contains_grouped_join``,
``bloom_contains_grouped``).

* a NULL key hits exactly where the empty-string key hits (``pack_arrow``
  packs NULL as the empty key);
* a NULL group value matches the NULL-group state, the way Spark groups
  NULLs;
* a group never built probes all-False;
* duplicate input rows come back with their multiplicity;
* the output columns are ``df.columns + [output_col]``.

The per-group filters share one sizing, so every per-group probe answers
row for row the same; so do the two flat shapes.

The shuffle probes share one sorted run walker (``agg.probe_runs``); its
edges are pinned here too: runs across Arrow batch boundaries, states with
no probe rows and probe rows with no state, duplicate state rows, and the
optimizer around it (predicates above the probe, pruned payload)."""

import contextlib
import re

import pyarrow as pa
import pytest

GROUPS = ["a", "b", None]
N_KEYS = 150
CAPACITY = 1000
FPP = 0.001


def _member(g, i):
    return f"member-{g}-{i:05d}"


@pytest.fixture(scope="module")
def build_df(spark):
    """Every group inserts its own members; only group ``a`` inserts the
    empty key."""
    rows = [(g, _member(g, i)) for g in GROUPS for i in range(N_KEYS)]
    rows.append(("a", ""))
    return spark.createDataFrame(rows, "g string, k string").repartition(3)


@pytest.fixture(scope="module")
def probe_df(spark):
    """Own-group members, other groups' members, absent keys, the empty key
    and NULL keys in every built group plus a never-built one; some keys
    and some whole rows appear three times."""
    rows = []
    for g in GROUPS + ["never"]:
        for i in range(0, N_KEYS, 3):
            rows.append((g, _member(g, i)))
            rows.append((g, _member("b" if g == "a" else "a", i)))
            rows.append((g, f"absent-{g}-{i:05d}"))
        rows += [(g, ""), (g, None), (g, None)]
        rows += [(g, _member(g, 1)), (g, "dup-absent")] * 3
    out = [(n, g, k, float(n) / 2) for n, (g, k) in enumerate(rows)]
    # duplicate whole rows (same id) beside the per-group duplicate keys
    out += out[:5] * 2
    return spark.createDataFrame(out, "id long, g string, k string, x double").repartition(5)


@pytest.fixture(scope="module")
def flat_sb(build_df):
    from poppy_spark.spark.sharded import build_sharded_bloom

    return build_sharded_bloom(build_df, "k", capacity=CAPACITY * 3, fpp=FPP, n_shards=4)


@pytest.fixture(scope="module")
def flat_probes(flat_sb):
    return {
        "broadcast": lambda df: flat_sb.contains(df, "k", "hit", strategy="broadcast"),
        "shuffle": lambda df: flat_sb.contains(df, "k", "hit", strategy="shuffle"),
    }


@pytest.fixture(scope="module")
def grouped_probes(build_df):
    from poppy_spark.sketches import BloomSketch
    from poppy_spark.spark.agg import build_sketch_grouped
    from poppy_spark.spark.probe import bloom_contains_grouped, bloom_contains_grouped_join
    from poppy_spark.spark.sharded import build_sharded_bloom_grouped

    gsb = build_sharded_bloom_grouped(build_df, "k", "g", capacity=CAPACITY, fpp=FPP, n_shards=2)
    states = build_sketch_grouped(build_df, "k", ["g"], BloomSketch.factory(CAPACITY, FPP))
    return {
        "grouped_sharded": lambda df: gsb.contains(df, "k", "hit"),
        "grouped_join": lambda df: bloom_contains_grouped_join(df, "k", "g", states, "hit"),
        "grouped_broadcast": lambda df: bloom_contains_grouped(df, "k", "g", states, "hit"),
    }


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@contextlib.contextmanager
def _conf(spark, key, value):
    """Session conf ``key`` set to ``value`` while the block runs."""
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _batch_rows(spark, n):
    """Arrow batches of ``n`` rows while the block runs."""
    return _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", str(n))


def _batch_bytes(spark, cap):
    """Arrow batches cut at ``cap`` bytes while the block runs."""
    return _conf(spark, "spark.sql.execution.arrow.maxBytesPerBatch", cap)


def _probed_rows(probe, probe_df):
    """``(id, g, k, x, hit)`` rows of one probe, after the shape checks
    every probe shares: columns and row multiplicity."""
    out = probe(probe_df)
    assert out.columns == probe_df.columns + ["hit"]
    rows = _rows(out)
    assert [r[:-1] for r in rows] == _rows(probe_df)
    return rows


def _null_matches_empty(rows, by_group):
    for g in GROUPS + ["never"]:
        mine = [r for r in rows if not by_group or r[1] == g]
        empty = {r[-1] for r in mine if r[2] == ""}
        null = {r[-1] for r in mine if r[2] is None}
        assert len(empty) == 1 and null == empty, (g, empty, null)


@pytest.mark.parametrize("name", ["broadcast", "shuffle"])
def test_flat_probe_semantics(flat_probes, probe_df, name):
    rows = _probed_rows(flat_probes[name], probe_df)
    _null_matches_empty(rows, by_group=False)
    # the empty key was inserted, so NULL hits everywhere
    assert all(r[-1] for r in rows if r[2] is None)
    inserted = {_member(g, i) for g in GROUPS for i in range(N_KEYS)}
    assert all(r[-1] for r in rows if r[2] in inserted)


def test_flat_probes_agree(flat_probes, probe_df):
    want = _rows(flat_probes["broadcast"](probe_df))
    assert _rows(flat_probes["shuffle"](probe_df)) == want


@pytest.mark.parametrize("name", ["grouped_sharded", "grouped_join", "grouped_broadcast"])
def test_grouped_probe_semantics(grouped_probes, probe_df, name):
    rows = _probed_rows(grouped_probes[name], probe_df)
    _null_matches_empty(rows, by_group=True)
    for _, g, k, _, hit in rows:
        if g == "never":
            assert not hit, k  # never built: all-False
        elif (k or "").startswith(f"member-{g}-"):
            assert hit, (g, k)  # own members hit, the NULL group's too
        elif g == "a" and k in ("", None):
            assert hit, (g, k)  # only group a inserted the empty key


def test_grouped_probes_agree(grouped_probes, probe_df):
    want = _rows(grouped_probes["grouped_join"](probe_df))
    for name in ("grouped_sharded", "grouped_broadcast"):
        assert _rows(grouped_probes[name](probe_df)) == want, name


@pytest.mark.parametrize("name", ["grouped_sharded", "grouped_join", "grouped_broadcast"])
def test_grouped_probe_double_groups(spark, name):
    """A ``double`` group holding NULL and NaN: each of them matches its own
    state, as Spark groups them (NULL = NULL, NaN = NaN), in every
    per-group probe; a group never built probes all-False."""
    from poppy_spark.sketches import BloomSketch
    from poppy_spark.spark.agg import build_sketch_grouped
    from poppy_spark.spark.probe import bloom_contains_grouped, bloom_contains_grouped_join
    from poppy_spark.spark.sharded import build_sharded_bloom_grouped

    nan = float("nan")
    built = [(g, f"member-{n}-{i:05d}") for n, g in enumerate([1.5, nan, None]) for i in range(40)]
    build = spark.createDataFrame(built, "g double, k string").repartition(3)
    probe = spark.createDataFrame(built + [(2.5, "member-0-00001")], "g double, k string")
    probes = {
        "grouped_sharded": lambda: build_sharded_bloom_grouped(
            build, "k", "g", capacity=CAPACITY, fpp=FPP, n_shards=2
        ).contains(probe, "k", "hit"),
        "grouped_join": lambda: bloom_contains_grouped_join(probe, "k", "g", states, "hit"),
        "grouped_broadcast": lambda: bloom_contains_grouped(probe, "k", "g", states, "hit"),
    }
    states = build_sketch_grouped(build, "k", ["g"], BloomSketch.factory(CAPACITY, FPP))
    rows = probes[name]().collect()
    assert len(rows) == len(built) + 1
    missed = [(r["g"], r["k"]) for r in rows if r["g"] != 2.5 and not r["hit"]]
    assert missed == []
    assert [r["hit"] for r in rows if r["g"] == 2.5] == [False]


def test_grouped_probes_coerce_group_types(spark):
    """States grouped by an integer column, probed with the same groups as
    strings: the broadcast probe matches groups in the type the grouped
    join's union coerces both sides to, and so answers as the join does."""
    from pyspark.sql import functions as F

    from poppy_spark.sketches import BloomSketch
    from poppy_spark.spark.agg import build_sketch_grouped
    from poppy_spark.spark.probe import bloom_contains_grouped, bloom_contains_grouped_join

    df = spark.range(0, 90).select(
        (F.col("id") % 3).alias("g"), F.format_string("member-%05d", "id").alias("k")
    )
    states = build_sketch_grouped(df, "k", ["g"], BloomSketch.factory(CAPACITY, FPP))
    probe = df.withColumn("g", F.col("g").cast("string"))
    want = _rows(bloom_contains_grouped_join(probe, "k", "g", states, "hit"))
    assert all(r[-1] for r in want)
    assert _rows(bloom_contains_grouped(probe, "k", "g", states, "hit")) == want


def test_grouped_broadcast_guard(spark, build_df, probe_df):
    """Past ``max_groups`` the broadcast probe refuses: it pulls at most
    ``max_groups + 1`` states to find out."""
    from poppy_spark.sketches import BloomSketch
    from poppy_spark.spark.agg import build_sketch_grouped
    from poppy_spark.spark.probe import bloom_contains_grouped

    states = build_sketch_grouped(build_df, "k", ["g"], BloomSketch.factory(CAPACITY, FPP))
    with pytest.raises(ValueError, match="max_groups=2"):
        bloom_contains_grouped(probe_df, "k", "g", states, "hit", max_groups=2)
    # exactly at the guard: every group's state is broadcast
    probed = bloom_contains_grouped(probe_df, "k", "g", states, "hit", max_groups=3)
    assert probed.filter("g IS NULL AND hit").count() > 0


@pytest.mark.parametrize("parts", [1, 7])
def test_walker_across_small_batches(spark, build_df, probe_df, parts):
    """Three-row Arrow batches, so every run spans batch boundaries, at
    input partition counts 1 and 7; shards and groups with a state but no
    probe rows, and probe rows whose shard or group has no state.  Every
    shuffle probe agrees row for row with a broadcast probe."""
    from poppy_spark.sketches import BloomSketch
    from poppy_spark.spark.agg import build_sketch_grouped
    from poppy_spark.spark.probe import bloom_contains_grouped, bloom_contains_grouped_join
    from poppy_spark.spark.sharded import (
        _route_batch,
        build_sharded_bloom,
        build_sharded_bloom_grouped,
    )

    build = build_df.repartition(parts)
    # group b is built but never probed; group never is probed, never built
    probe = probe_df.filter("g IS NULL OR g IN ('a', 'never')").repartition(parts)
    tiny = probe_df.filter("id < 2").repartition(parts)
    with _batch_rows(spark, 3):
        # ten keys over 15 shards: most shards stay untouched
        sb = build_sharded_bloom(
            build.filter("k LIKE 'member-a-0000_'"), "k", capacity=100_000, fpp=FPP, n_shards=16
        )
        touched = {r["shard_id"] for r in sb.states.collect()}

        def shards(df):
            keys = pa.array([r["k"] for r in df.select("k").collect()], pa.string())
            return set(_route_batch(keys, sb.params, dedup=False)[0].tolist())

        assert shards(probe) - touched, "some probe rows must meet no state"
        assert touched - shards(tiny), "some states must meet no probe row"
        for df in (probe, tiny):
            want = _rows(sb.contains(df, "k", "hit", strategy="broadcast"))
            assert any(r[-1] for r in want) or df is tiny
            assert _rows(sb.contains(df, "k", "hit", strategy="shuffle")) == want

        gsb = build_sharded_bloom_grouped(build, "k", "g", capacity=CAPACITY, fpp=FPP, n_shards=2)
        states = build_sketch_grouped(build, "k", ["g"], BloomSketch.factory(CAPACITY, FPP))
        want = _rows(bloom_contains_grouped(probe, "k", "g", states, "hit"))
        assert any(r[-1] for r in want) and not all(r[-1] for r in want)
        assert _rows(gsb.contains(probe, "k", "hit")) == want
        assert _rows(bloom_contains_grouped_join(probe, "k", "g", states, "hit")) == want


@pytest.mark.parametrize("parts", [1, 7])
def test_many_shards_few_probes(spark, build_df, probe_df, parts):
    """Shards far outnumber the shuffle partitions and few probe rows
    arrive, so most runs are a lone state row and the walker's batches,
    cut at 1 KB, are mostly state rows.  The shuffle probe agrees row for
    row with the broadcast probe."""
    from poppy_spark.spark.sharded import build_sharded_bloom

    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sb = build_sharded_bloom(
        build_df.repartition(parts), "k", capacity=200_000, fpp=FPP, n_shards=64
    )
    assert sb.states.count() >= 4 * n_parts
    few = probe_df.filter("id % 40 = 0").repartition(parts)
    assert few.count() < sb.states.count() / 2
    with _batch_bytes(spark, "1k"):
        want = _rows(sb.contains(few, "k", "hit", strategy="broadcast"))
        assert any(r[-1] for r in want) and not all(r[-1] for r in want)
        assert _rows(sb.contains(few, "k", "hit", strategy="shuffle")) == want


def test_batches_cut_at_max_bytes(spark):
    """The walker's batches are bounded in bytes, not only in rows: with
    64 runs of one 4 KB state and one probe row each over the shuffle
    partitions, no batch holds more than a few states when batches are cut
    at 10 KB.  With the byte cap lifted, the same check sees a whole
    partition's states in one batch, so the check can fail."""
    from pyspark.sql import functions as F

    from poppy_spark.spark.agg import probe_runs

    states = spark.range(64).select(
        F.col("id").alias("g"), F.expr("cast(repeat('x', 4096) AS binary)").alias("state")
    )
    rows = spark.range(64).select(F.col("id").alias("g"), (F.col("id") * 2).alias("r"))

    def states_per_batch_ok(cap):
        seen = [0]  # state rows added since the current batch was prepared

        def add(acc, state):
            seen[0] += 1
            return True

        def prepare(route):
            seen[0] = 0

        def test(acc, view, lo, hi):
            import numpy as np

            return np.full(hi - lo, seen[0] <= 4)

        with _batch_bytes(spark, cap):
            out = probe_runs(rows, states, ["g"], ["r"], ["g", "r"], "ok", add, prepare, test)
            got = out.collect()
        assert sorted((r["g"], r["r"]) for r in got) == [(i, 2 * i) for i in range(64)]
        return all(r["ok"] for r in got)

    assert states_per_batch_ok("10k")
    assert not states_per_batch_ok("2047m")


def test_duplicate_shard_rows_or_together(spark):
    """Two ``n_shards=2`` builds over disjoint keys, their states unioned
    into one handle: every shard has two rows.  The shuffle probe ORs a
    run's state rows as the reassembly does, so neither side's keys are
    missed."""
    from poppy_spark.spark.sharded import ShardedBloom, build_sharded_bloom

    left = spark.createDataFrame([(f"left-{i:05d}",) for i in range(3000)], "k string")
    right = spark.createDataFrame([(f"right-{i:05d}",) for i in range(3000)], "k string")
    a = build_sharded_bloom(left, "k", capacity=10_000, fpp=0.01, n_shards=2)
    b = build_sharded_bloom(right, "k", capacity=10_000, fpp=0.01, n_shards=2)
    both = ShardedBloom(a.params, a.states.unionByName(b.states))
    assert both.states.count() == 4
    keys = left.unionByName(right)
    for strategy in ("broadcast", "shuffle"):
        missed = both.contains(keys, "k", "hit", strategy=strategy).filter("NOT hit").count()
        assert missed == 0, strategy


def test_predicates_above_the_walker(flat_sb, grouped_probes, probe_df):
    """A payload predicate above a shuffle probe, ``semi_join`` and
    ``anti_join`` equal the same filter applied to the collected rows:
    the walker is stateful, so no predicate may reach its input (a
    pushed-down payload predicate would drop the state rows)."""
    from poppy_spark.spark.sharded import build_sharded_bloom_grouped

    probes = {
        "shuffle": lambda df: flat_sb.contains(df, "k", "hit", strategy="shuffle"),
        **{n: grouped_probes[n] for n in ("grouped_sharded", "grouped_join")},
    }
    for name, probe in probes.items():
        full = _rows(probe(probe_df))
        assert any(r[-1] for r in full if r[3] > 100), name
        assert _rows(probe(probe_df).filter("x > 100")) == [r for r in full if r[3] > 100], name
        assert _rows(probe(probe_df).filter("hit AND id % 2 = 0")) == [
            r for r in full if r[-1] and r[0] % 2 == 0
        ], name

    gsb = build_sharded_bloom_grouped(
        probe_df.filter("x < 200"), "k", "g", capacity=CAPACITY, fpp=FPP, n_shards=2
    )
    full = _rows(gsb.contains(probe_df, "k", "hit"))
    assert _rows(gsb.semi_join(probe_df, "k")) == [r[:-1] for r in full if r[-1]]
    assert _rows(gsb.anti_join(probe_df, "k")) == [r[:-1] for r in full if not r[-1]]
    assert _rows(gsb.semi_join(probe_df, "k").filter("x > 100")) == [
        r[:-1] for r in full if r[-1] and r[3] > 100
    ]


def test_unused_payload_pruned_before_exchange(spark, flat_sb):
    """Only the columns the caller keeps ride the shuffle: with
    ``select("k", "hit")`` no ``text`` column enters any Exchange."""
    df = spark.createDataFrame(
        [(i, f"member-a-{i:05d}", "payload " * 8) for i in range(60)],
        "id long, k string, text string",
    )
    out = flat_sb.contains(df, "k", "hit", strategy="shuffle").select("k", "hit")
    assert all(r["hit"] for r in out.collect())
    qe = out._jdf.queryExecution()
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(qe, "formatted")
    inputs = re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert any("__shard_id#" in cols for cols in inputs), plan  # the probe's shuffle
    for cols in inputs:
        assert not re.search(r"\b(text|id)#", cols), cols


def test_grouped_join_ships_string_key_once(spark, grouped_probes, probe_df):
    """A string key is its own routing column: the grouped join's shuffle
    carries ``k`` once and no routing copy of it."""
    out = grouped_probes["grouped_join"](probe_df).select("g", "k", "hit")
    out.collect()
    qe = out._jdf.queryExecution()
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(qe, "formatted")
    inputs = re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    probe_side = [cols for cols in inputs if "__tag#" in cols]
    assert probe_side, plan
    for cols in probe_side:
        assert len(re.findall(r"\bk#", cols)) == 1 and "__key" not in cols, cols
