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
row for row the same; so do the two flat shapes."""

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
def flat_probes(build_df):
    from poppy_spark.spark.sharded import build_sharded_bloom

    sb = build_sharded_bloom(build_df, "k", capacity=CAPACITY * 3, fpp=FPP, n_shards=4)
    return {
        "broadcast": lambda df: sb.contains(df, "k", "hit", strategy="broadcast"),
        "shuffle": lambda df: sb.contains(df, "k", "hit", strategy="shuffle"),
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
