"""int_keys="typed" — Rust typed-key blanket-impl compatibility.

The reference has TWO distinct integer surfaces (round-2 advice finding):

* ``insert_bytes(&k.to_le_bytes())`` — the ``&[u8]`` impl's <=8-byte
  identity shortcut (``poppy/src/hash.rs:52-63``): ``h1 == k``.  Our
  ``int_keys="le8"``.
* ``insert(&k)`` for typed u64/i64 — the blanket impl streams the key's 8
  native-endian bytes through the full WyHasher
  (``poppy/src/hash.rs:43-50``, ``v2.rs:77-84``): ``h1 == wyhash(le8(k))``.
  Our ``int_keys="typed"`` (new this round).

These tests pin the typed transform against the scalar wyhash oracle AND
against the clean-room cross-oracle, prove build==probe equality through
every distributed path (classic, sharded, grouped-state merge), and prove
the loud-failure paths (string-mode probe on ints, typed on v1).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from poppy_spark.core import BloomFilter
from poppy_spark.core.hashes import POPPY_SEED, wyhash
from poppy_spark.core.hashkern import (
    pack_arrow,
    pack_int64_typed,
    wyhash_u64le_batch,
)

from .wyhash_clean import wyhash_clean


def _le8(k: int) -> bytes:
    return int(k).to_bytes(8, "little", signed=k < 0)


def test_wyhash_u64le_batch_matches_scalar_oracles():
    rng = np.random.default_rng(1)
    vals = np.concatenate(
        [
            rng.integers(-(2**62), 2**62, size=200),
            np.array([0, 1, -1, 2**63 - 1, -(2**63), 42], dtype=np.int64),
        ]
    ).astype(np.int64)
    got = wyhash_u64le_batch(vals)
    want = np.array([wyhash(_le8(int(k)), POPPY_SEED) for k in vals], dtype=np.uint64)
    np.testing.assert_array_equal(got, want)
    # and against the independent clean-room implementation
    want2 = np.array(
        [wyhash_clean(_le8(int(k)), POPPY_SEED) for k in vals], dtype=np.uint64
    )
    np.testing.assert_array_equal(got, want2)


def test_typed_filter_bytes_equal_manual_h1_insertion():
    """A typed-int filter must be byte-identical to one built by inserting,
    per key, the 8-LE-byte slice whose u64 value is wyhash(le8(k)) — the
    identity-shortcut encoding of the Rust typed path's h1."""
    keys = list(range(-500, 500, 7)) + [2**62, -(2**62)]
    f_typed = BloomFilter.with_params(2, len(keys), 0.001)
    mat, lens = pack_int64_typed(np.array(keys, dtype=np.int64))
    f_typed.insert_packed(mat, lens)

    f_manual = BloomFilter.with_params(2, len(keys), 0.001)
    f_manual.insert_batch([_le8(wyhash(_le8(k), POPPY_SEED)) for k in keys])
    assert f_typed.dumps() == f_manual.dumps()


def test_typed_and_le8_modes_differ():
    keys = np.arange(1000, dtype=np.int64)
    f_typed = BloomFilter.with_params(2, 1000, 0.001)
    m, l = pack_int64_typed(keys)
    f_typed.insert_packed(m, l)
    f_le8 = BloomFilter.with_params(2, 1000, 0.001)
    m2, l2 = pack_arrow(pa.array(keys), int_mode="le8")
    f_le8.insert_packed(m2, l2)
    assert f_typed.dumps() != f_le8.dumps()
    # typed probe against typed build: zero FN
    assert bool(f_typed.contains_packed(m, l).all())
    # le8 probe against typed build: essentially all miss (no identity match)
    hits = f_typed.contains_packed(m2, l2)
    assert hits.sum() < 20  # only chance-level false positives


def test_pack_arrow_raise_mode():
    with pytest.raises(TypeError, match="int_keys"):
        pack_arrow(pa.array([1, 2, 3], pa.int64()), int_mode="raise")


def test_typed_rejected_for_v1():
    from poppy_spark.sketches import BloomSketch

    sk = BloomSketch.create(100, 0.001, version=1)
    sk.int_keys = "typed"
    with pytest.raises(ValueError, match="v2-only"):
        sk.update_arrow(pa.array([1, 2, 3], pa.int64()))


def test_spark_typed_build_probe_roundtrip(spark):
    from poppy_spark.sketches import BloomSketch
    from poppy_spark.spark.agg import build_sketch
    from poppy_spark.spark.probe import bloom_contains

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    sk = build_sketch(df, "k", BloomSketch.factory(5000, 0.001), int_keys="typed")
    # distributed typed build == driver typed build, byte-for-byte
    driver = BloomFilter.with_params(2, 5000, 0.001)
    m, l = pack_int64_typed(np.arange(5000, dtype=np.int64))
    driver.insert_packed(m, l)
    driver.update_count()
    assert sk.filter.dumps() == driver.dumps()

    # typed probe: zero FN; disjoint keys essentially all miss
    out = bloom_contains(df, "k", sk.filter, int_keys="typed")
    assert out.filter("hit").count() == 5000
    miss = spark.range(10_000, 15_000).withColumnRenamed("id", "k")
    fp = bloom_contains(miss, "k", sk.filter, int_keys="typed").filter("hit").count()
    assert fp < 50


def test_spark_string_mode_probe_on_int_udf_raises(spark):
    """ADVICE r2: the raw UDF applied to an integer column under default
    string mode must fail loudly, not return all-False."""
    from poppy_spark.sketches import BloomSketch
    from poppy_spark.spark.agg import build_sketch
    from poppy_spark.spark.probe import bloom_contains_udf

    df = spark.range(0, 100).withColumnRenamed("id", "k")
    sk = build_sketch(df, "k", BloomSketch.factory(100, 0.001))  # string mode
    udf = bloom_contains_udf(spark, sk.filter)  # default string mode
    import pyspark.sql.functions as F

    with pytest.raises(Exception, match="int_keys"):
        df.select(udf(F.col("k")).alias("hit")).collect()


def test_sharded_typed_build_matches_classic(spark):
    from poppy_spark.spark.sharded import build_sharded_bloom

    df = spark.range(0, 3000).withColumnRenamed("id", "k")
    sb = build_sharded_bloom(df, "k", 3000, 0.001, n_shards=4, int_keys="typed")
    driver = BloomFilter.with_params(2, 3000, 0.001)
    m, l = pack_int64_typed(np.arange(3000, dtype=np.int64))
    driver.insert_packed(m, l)
    driver.update_count()
    assert sb.to_poppy_bytes() == driver.dumps()
    # sharded typed probe: zero FN
    hits = sb.contains(df, "k", int_keys="typed")
    assert hits.filter("hit").count() == 3000
