"""Group keys keep their values in any session zone.

Every grouped verb carries its group values as Arrow from input to output
(``agg.fold_groups`` and the per-partition update copy a run's head row;
the broadcast grouped probe matches groups with ``index_in``).  A Python
pass would rebuild a timestamp from a zone-aware datetime and shift it by
the session zone's offset, so these checks run a raw timestamp group and a
``date_trunc("day", ts)`` bucket under three zones: the outputs hold
exactly the input's distinct group values, and every state is byte-equal
to the UTC run's.

The timestamps sit at 12:00 UTC (plus 0, 20 or 40 minutes) over four days
that span a US daylight-saving change, so each row falls on the same
calendar day in every zone tested: the day buckets differ between zones as
instants but hold the same keys."""

import contextlib

import pytest

from pyspark.sql import functions as F

from poppy_spark.sketches import BloomSketch, HllSketch
from poppy_spark.spark.agg import build_sketch_grouped
from poppy_spark.spark.probe import bloom_contains_grouped, bloom_contains_grouped_join
from poppy_spark.spark.sharded import build_sharded_bloom_grouped
from poppy_spark.spark.streaming import merge_grouped_states

ZONES = ["UTC", "America/New_York", "Asia/Kolkata"]
GROUPS = {"ts": lambda: F.col("ts"), "day": lambda: F.date_trunc("day", F.col("ts"))}
HLL = HllSketch.factory(10)
BLOOM = BloomSketch.factory(1000, 0.01)
DAY0_US = 1_709_899_200_000_000  # 2024-03-08 12:00 UTC
N = 240


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        (f"key-{i:05d}", DAY0_US + (i % 4) * 86_400_000_000 + (i % 3) * 1_200_000_000)
        for i in range(N)
    ]
    df = spark.createDataFrame(rows, "k string, us long")
    return df.select("k", F.timestamp_micros("us").alias("ts")).repartition(3)


@contextlib.contextmanager
def _zone(spark, tz):
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, tz)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _micros(df):
    """Each row's group as epoch microseconds: the instant, in no zone."""
    return [r[0] for r in df.select(F.unix_micros("g")).collect()]


def _by_group(states):
    """``(group micros, state bytes, n_rows)`` rows in group order, after
    checking no group comes twice."""
    rows = sorted(
        (r["us"], bytes(r["state"]), r["n_rows"])
        for r in states.select(F.unix_micros("g").alias("us"), "state", "n_rows").collect()
    )
    assert len({r[0] for r in rows}) == len(rows)
    return rows


def _grouped_outputs(events, group):
    """``(distinct input groups, {verb: rows})`` in the current zone."""
    df = events.withColumn("g", GROUPS[group]())
    want = sorted(set(_micros(df)))
    out = {}
    for shuffle in ("states", "rows"):
        out[shuffle] = _by_group(build_sketch_grouped(df, "k", ["g"], HLL, shuffle=shuffle))
    halves = [df.filter(F.col("k") < "key-00120"), df.filter(F.col("k") >= "key-00120")]
    appended = build_sketch_grouped(halves[0], "k", ["g"], HLL).unionByName(
        build_sketch_grouped(halves[1], "k", ["g"], HLL)
    )
    out["merged"] = _by_group(merge_grouped_states(appended, ["g"], HLL))
    return want, out


def _sharded_outputs(events, group):
    """``(keys missed by contains, every group's reassembled bytes in
    group order)`` in the current zone."""
    df = events.withColumn("g", GROUPS[group]())
    sb = build_sharded_bloom_grouped(df, "k", "g", capacity=1000, fpp=0.01, n_shards=2)
    missed = sb.contains(df, "k").filter("NOT hit").count()
    groups = sorted(set(_micros(df)))
    # the group filter names an instant, so it reads no session zone
    return missed, [sb.reassemble_group(F.timestamp_micros(F.lit(us))) for us in groups]


@pytest.fixture(scope="module")
def utc(spark, events):
    with _zone(spark, "UTC"):
        return {
            g: (_grouped_outputs(events, g)[1], _sharded_outputs(events, g)[1]) for g in GROUPS
        }


@pytest.mark.parametrize("group", list(GROUPS))
@pytest.mark.parametrize("tz", ZONES)
def test_grouped_states_keep_group_values(spark, events, utc, tz, group):
    """``build_sketch_grouped`` (both shapes) and ``merge_grouped_states``
    return the input's distinct groups, each once, with the UTC run's
    states."""
    with _zone(spark, tz):
        want, out = _grouped_outputs(events, group)
    assert len(want) == (12 if group == "ts" else 4)
    for verb, rows in out.items():
        assert [r[0] for r in rows] == want, verb
        assert [r[1:] for r in rows] == [r[1:] for r in utc[group][0][verb]], verb
        assert sum(r[2] for r in rows) == N, verb


@pytest.mark.parametrize("group", list(GROUPS))
@pytest.mark.parametrize("tz", ZONES)
def test_grouped_sharded_keeps_group_values(spark, events, utc, tz, group):
    """Every inserted key hits its own group's sharded filter, and each
    group reassembles to the UTC run's bytes."""
    with _zone(spark, tz):
        missed, files = _sharded_outputs(events, group)
    assert missed == 0
    assert files == utc[group][1]


@pytest.mark.parametrize("tz", ZONES)
def test_grouped_probes_match_timestamp_groups(spark, events, tz):
    """The broadcast grouped probe and the grouped join find a timestamp
    group's state: every inserted key hits, and a key probed under another
    day misses."""
    with _zone(spark, tz):
        df = events.withColumn("g", GROUPS["day"]())
        states = build_sketch_grouped(df, "k", ["g"], BLOOM)
        shifted = df.withColumn("g", F.col("g") + F.expr("INTERVAL 1 DAY"))
        for probe in (bloom_contains_grouped, bloom_contains_grouped_join):
            assert probe(df, "k", "g", states, "hit").filter("NOT hit").count() == 0
            assert probe(shifted, "k", "g", states, "hit").filter("hit").count() < N // 10
