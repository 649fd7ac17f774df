"""Bucket-range-sharded poppy v2 Bloom filter — capacity past one worker.

A single poppy v2 filter sized for 10^12 keys is ~2 TB of bucket bytes: it
cannot be a broadcast value, a per-partition clone, or a driver object.  But
poppy v2 is *already bucketed* — fixed 4096-byte buckets addressed by
``xorshift_star(h1) % n_buckets`` (``poppy/src/bloom/v2.rs:125-127,376-382``)
— so the bucket range is a natural distribution seam: shard s owns the
contiguous bucket range ``[s*bps, (s+1)*bps)`` and lives as one row of a
DataFrame, nowhere near the driver.

A per-group filter is the same filter with the group column added to the
shard key: one :class:`ShardedBloom` type serves both, and every operation
keys on ``(group?, shard_id)`` rows.

Shapes (and why they scale):

* **build** — phase 1 maps each key to its ``(group?, shard_id, ibucket,
  k bit indexes)`` with the existing vectorized wyhash kernels (one
  ``mapInArrow`` pass; a flat build dedups per batch); phase 2 folds those
  index tuples per ``(group?, shard_id)`` (``agg.fold_groups``) into ONE
  shard's bucket array at a time — memory per task = one shard plus one
  batch, never the row group or the group count.  Shuffle volume is
  ~``4 + 8 + 2k`` bytes per key — when the filter is far larger than any
  partition's data (the 10^12 regime), shipping index tuples beats
  shipping partial filter states by orders of magnitude.
* **probe** — broadcast the reassembled flat filter when it fits, else ONE
  shuffle probe (:func:`_shard_probe`): a key-only Arrow UDF routes each
  row to its shard, then the sorted run walker ``agg.probe_runs`` on
  ``(group?, shard_id)`` meets each shard state (its duplicate rows OR'd)
  with that shard's probe rows.  Python sees only the run key, the state
  and the routing and returns one bit per row; the payload columns stay
  in the JVM.  Every shard state crosses the shuffle exactly once, a probe
  row never drags a copy of the state along (a plain join would), and
  there is no row id or join-back.
* **algebra** — union/intersection are per-shard byte OR/AND: both sides'
  shard rows, tagged by side, fold per ``(group?, shard_id)``
  (``agg.fold_groups``, no join); the count estimate is poppy's
  per-bucket-sum formula (``v2.rs:575-588``), which decomposes exactly over
  contiguous shards.

``to_poppy_bytes()`` reassembles a byte-identical single poppy v2 file (the
equivalence is the correctness gate; ``reassemble_group(g)`` does the same
for one group), guarded by a size budget since it is a driver-side
materialization.  Only ``OptLevel.NONE`` is shardable (SPEED / BEST add a
global index cache that does not decompose; poppy's own parallel path
clones the whole filter per job instead, ``bin/poppy.rs:31-37``).
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from poppy_spark.core import statekern
from poppy_spark.core.params import MergeError, cap_from_bit_size, k as k_fn
from poppy_spark.core.statekern import BUCKET_BITS, BUCKET_SIZE
from poppy_spark.sketches.base import _INT_MODE

__all__ = ["ShardedBloom", "ShardedBloomStream", "build_sharded_bloom"]

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.IntegerType()),
        T.StructField("state", T.BinaryType()),
        T.StructField("n_rows", T.LongType()),
    ]
)


@dataclass(frozen=True)
class _Params:
    """Derived exactly as ``BloomV2.make(capacity, fpp, OptLevel.NONE)``
    (``poppy/src/bloom/v2.rs:281-329``) so shard reassembly is byte-equal."""

    capacity: int
    fpp: float
    n_buckets: int
    n_hash_buck: int
    n_shards: int
    bps: int  # buckets per shard (last shard may be short)

    @classmethod
    def make(
        cls,
        capacity: int,
        fpp: float,
        n_shards: int | None = None,
        target_shard_bytes: int = 64 << 20,
    ) -> "_Params":
        """``n_shards=None`` keeps a shard near ``target_shard_bytes``."""
        bucket_cap = cap_from_bit_size(BUCKET_BITS, fpp)
        n_buckets = math.ceil(capacity / bucket_cap)
        n_hash_buck = k_fn(BUCKET_BITS, bucket_cap)
        if n_shards is None:
            n_shards = math.ceil(n_buckets * BUCKET_SIZE / target_shard_bytes)
        n_shards = max(1, min(n_shards, n_buckets))
        bps = math.ceil(n_buckets / n_shards)
        n_shards = math.ceil(n_buckets / bps)
        return cls(capacity, fpp, n_buckets, n_hash_buck, n_shards, bps)

    def shard_buckets(self, shard_id: int) -> int:
        lo = shard_id * self.bps
        return min(self.bps, self.n_buckets - lo)


def _route_batch(keys: pa.Array, p: _Params, dedup: bool, int_mode: str = "raise"):
    """(shard_id int32, ibucket int64, idx (n,k) uint16) for one Arrow batch."""
    from poppy_spark.core import hashkern as hk

    mat, lens = hk.pack_arrow(keys, int_mode=int_mode)
    h1 = hk.hash_pop_batch(mat, lens)
    keep = None
    if dedup:
        h1u, keep = np.unique(h1, return_index=True)
        h1 = h1u
    bucket_hash, idx = hk.v2_index_batch(h1, max(p.n_hash_buck, 1))
    idx = idx[:, : p.n_hash_buck].astype("<u2")
    nb = np.uint64(p.n_buckets)
    if p.n_buckets & (p.n_buckets - 1) == 0:
        ib = bucket_hash & (nb - np.uint64(1))
    else:
        ib = bucket_hash % nb
    shard = (ib // np.uint64(p.bps)).astype(np.int32)
    return shard, ib.astype(np.int64), idx, keep


def _idx_to_binary(idx: np.ndarray) -> pa.Array:
    """(n, k) '<u2' matrix -> Arrow binary array of 2k-byte rows, zero-copy."""
    n, k = idx.shape
    values = pa.py_buffer(np.ascontiguousarray(idx).tobytes())
    offsets = pa.py_buffer((np.arange(n + 1, dtype=np.int32) * (2 * k)).tobytes())
    return pa.Array.from_buffers(pa.binary(), n, [None, offsets, values])


def _binary_to_idx(arr, k: int) -> np.ndarray:
    """Arrow binary column of 2k-byte rows -> (n, k) uint16 matrix."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return np.zeros((0, k), dtype=np.uint16)
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int32, count=n + 1, offset=arr.offset * 4)
    flat = np.frombuffer(bufs[2], dtype=np.uint8)[offsets[0] : offsets[-1]]
    return flat.view("<u2").reshape(n, k)


def _shard_probe(
    df: DataFrame,
    col: str,
    groups: list,
    states: DataFrame,
    p: _Params,
    output_col: str,
    int_keys: str,
) -> DataFrame:
    """The one shuffle probe of both sharded filters: append ``output_col``
    — is ``col`` set in the filter of its row's ``groups`` values (``[]``
    for a flat filter)?  ``states`` holds ``(*groups, shard_id, state,
    ...)`` rows.

    A scalar Arrow UDF over ONLY the key column routes each row to its
    shard: ``(shard_id, shard-local bucket, k bit indexes)``.  The sorted
    run walker (``agg.probe_runs``) then runs over ``(*groups, shard_id)``:
    each shard state crosses the shuffle once and is OR'd with any
    duplicate row of the same shard, and Python sees only the run key, the
    state and the routing — it returns one bit per row, and the payload
    columns never leave the JVM.  A row whose shard has no state
    (untouched shard, group never built) probes all-False."""
    from pyspark.sql.functions import arrow_udf

    from poppy_spark.spark.agg import _as_key, decompress_blob, probe_runs

    int_mode = _INT_MODE[int_keys]
    k, bps = p.n_hash_buck, p.bps

    def route1(keys):
        if isinstance(keys, pa.ChunkedArray):
            keys = keys.combine_chunks()
        shard, ib, idx, _ = _route_batch(keys, p, dedup=False, int_mode=int_mode)
        return pa.StructArray.from_arrays(
            [
                pa.array(shard, type=pa.int32()),
                pa.array(ib - shard.astype(np.int64) * bps, type=pa.int32()),
                _idx_to_binary(idx),
            ],
            ["s", "ib", "idx"],
        )

    route1.__annotations__ = {"keys": pa.Array, "return": pa.Array}
    udf = arrow_udf(route1, "struct<s:int, ib:int, idx:binary>")
    rows = df.select("*", udf(_as_key(df, col, int_keys)).alias("__r")).select(
        *df.columns,
        F.col("__r.s").alias("__shard_id"),
        F.col("__r.ib").alias("__ib"),
        F.col("__r.idx").alias("__idx"),
    )

    def add(bits, state: bytes) -> np.ndarray:
        blob = np.frombuffer(decompress_blob(state), dtype=np.uint8)
        return blob if bits is None else bits | blob

    def prepare(route: list) -> tuple:
        return route[0].to_numpy(zero_copy_only=False), _binary_to_idx(route[1], k)

    def test(bits: np.ndarray, view: tuple, lo: int, hi: int) -> np.ndarray:
        return statekern.v2_contains_batch(bits, None, view[0][lo:hi], view[1][lo:hi], None, 1)

    return probe_runs(
        rows,
        states.withColumnRenamed("shard_id", "__shard_id"),
        [*groups, "__shard_id"],
        ["__ib", "__idx"],
        df.columns,
        output_col,
        add,
        prepare,
        test,
    )


def _shard_row(bits: np.ndarray, n_rows: int) -> tuple:
    """One folded shard's ``(state, n_rows)`` values."""
    from poppy_spark.spark.agg import compress_blob

    return compress_blob(bits.tobytes()), n_rows


def _v2_file(p: _Params, rows) -> bytes:
    """The one shard reassembly: ``(shard_id, state)`` rows -> a poppy v2
    file, byte-identical to a one-node build with the same (capacity, fpp,
    OptLevel.NONE).  Each shard is OR'd into its bucket range, so a
    duplicated shard row can never drop bits; untouched shards stay zero."""
    from poppy_spark.core.v2 import BloomV2
    from poppy_spark.spark.agg import decompress_blob

    buckets = np.zeros(p.n_buckets * BUCKET_SIZE, dtype=np.uint8)
    for shard_id, state in rows:
        blob = np.frombuffer(decompress_blob(state), dtype=np.uint8)
        lo = shard_id * p.bps * BUCKET_SIZE
        view = buckets[lo : lo + blob.size]
        np.bitwise_or(view, blob, out=view)
    filt = BloomV2(p.capacity, p.fpp, p.n_hash_buck, p.n_buckets, 0, 0, buckets)
    filt.update_count()
    return filt.dumps()


class ShardedBloom:
    """Handle over ``(group?, shard_id, state, n_rows)`` rows + shared params.

    ``states`` holds one row per *touched* shard (raw shard bucket bytes,
    lz4-wrapped); untouched shards are implicit all-zero.  With a
    ``group_col`` the handle is one logical filter per group value, each
    split into the same bucket-range shards: every operation keys on
    ``(group, shard_id)`` instead of ``shard_id`` and otherwise runs the
    same code.  All groups share one sizing (``capacity`` / ``fpp`` per
    group) — the params ARE the merge-compatibility contract, exactly like
    ``has_same_params`` gates poppy unions (``poppy/src/bloom.rs``).
    """

    def __init__(self, params: _Params, states: DataFrame, group_col: str | None = None):
        self.params = params
        self.states = states
        self.group_col = group_col

    @property
    def _groups(self) -> list:
        return [self.group_col] if self.group_col else []

    def unpersist(self) -> "ShardedBloom":
        """Release what this handle pins: the ``states`` a ``persist=True``
        build cached and the filter bytes the broadcast probe reassembled.
        The handle stays usable; a later action recomputes the states."""
        self.states.unpersist()
        self._poppy_cache = None
        return self

    # --- probe -----------------------------------------------------------------
    def contains(
        self,
        df: DataFrame,
        col: str,
        output_col: str = "hit",
        int_keys: str = "string",
        strategy: str = "auto",
        broadcast_budget: int = 128 << 20,
    ) -> DataFrame:
        """Append a boolean membership column; output columns are
        ``df.columns + [output_col]``.  A grouped filter answers whether
        ``col`` is in ITS OWN row's group filter; a group never built
        probes all-False (nothing was inserted).

        ``strategy`` picks the probe's physical shape:

        * ``"auto"`` (default) — broadcast when the whole filter fits
          ``broadcast_budget`` (reassembled once, cached on this handle,
          shipped once per executor; the probe is then a narrow, shuffle-free
          transformation ~2.5x faster at bench scale), shuffle otherwise.
          A grouped filter always takes the shuffle probe.
        * ``"broadcast"`` — force the reassembled broadcast probe (raises
          past the budget, and on a grouped filter).
        * ``"shuffle"`` — force the shuffle probe (:func:`_shard_probe`):
          rows meet their shard's state in one sorted shuffle and only the
          routing crosses into Python, each shard state crosses the wire
          exactly once — the only shape for filters no single worker can
          hold.
        """
        if strategy not in ("auto", "broadcast", "shuffle"):
            raise ValueError(
                f"unknown strategy {strategy!r}; use 'auto', 'broadcast' or 'shuffle'"
            )
        if self.group_col and strategy == "broadcast":
            raise ValueError("a grouped sharded filter has no broadcast probe")
        if strategy == "auto":
            fits = not self.group_col and self.size_in_bytes() <= broadcast_budget
            strategy = "broadcast" if fits else "shuffle"
        if strategy == "broadcast":
            from poppy_spark.spark.probe import bloom_contains

            if self.size_in_bytes() > broadcast_budget:
                raise MemoryError(
                    f"filter is {self.size_in_bytes()} bytes uncompressed, past "
                    f"broadcast_budget={broadcast_budget}; use strategy='shuffle'"
                )
            raw = getattr(self, "_poppy_cache", None)
            if raw is None:
                # shard rows are immutable once built: reassemble once per
                # handle and reuse across probes
                raw = self._poppy_cache = self.to_poppy_bytes(
                    max_bytes=broadcast_budget
                )
            return bloom_contains(df, col, raw, output_col, int_keys)
        return _shard_probe(
            df, col, self._groups, self.states, self.params, output_col, int_keys
        )

    def semi_join(self, df: DataFrame, col: str) -> DataFrame:
        return self.contains(df, col, "__hit__").filter(F.col("__hit__")).drop("__hit__")

    def anti_join(self, df: DataFrame, col: str) -> DataFrame:
        return self.contains(df, col, "__hit__").filter(~F.col("__hit__")).drop("__hit__")

    # --- algebra ---------------------------------------------------------------
    def _fold(self, other: "ShardedBloom | None", op: str) -> "ShardedBloom":
        """The one shape of the shard algebra: fold the shard rows of this
        filter (and of ``other``, tagged by ``__src``) per ``(group?,
        shard_id)``, OR-ing each side's rows in place.  With ``op="and"``
        the two sides then AND, a key present on one side only (AND with
        the implicit all-zero shard) is dropped, and ``n_rows`` is reset to
        0 (insert counts do not survive an AND; every estimate recomputes
        from the bits); otherwise ``n_rows`` sums."""
        from poppy_spark.spark.agg import _STATE_COLS, decompress_blob, fold_groups

        both = self.states.withColumn("__src", F.lit(0))
        if other is not None:
            if self.params != other.params or self.group_col != other.group_col:
                raise MergeError(
                    f"cannot combine sharded blooms ({op}) with different "
                    "parameters or group columns"
                )
            both = both.unionByName(other.states.withColumn("__src", F.lit(1)))
        sided = op == "and"

        def add(acc: list, rows: pa.RecordBatch, lo: int, hi: int) -> None:
            src, states = rows.column("__src"), rows.column("state")
            for i in range(lo, hi):
                s = src[i].as_py() if sided else 0
                v = np.frombuffer(decompress_blob(states[i].as_py()), dtype=np.uint8)
                if acc[s] is None:
                    acc[s] = v.copy()
                else:
                    np.bitwise_or(acc[s], v, out=acc[s])
            acc[2] += pc.sum(rows.column("n_rows").slice(lo, hi - lo)).as_py() or 0

        def emit(acc: list):
            bits, other_bits, n_rows = acc
            if sided:
                if bits is None or other_bits is None:
                    return None
                np.bitwise_and(bits, other_bits, out=bits)
                n_rows = 0
            return _shard_row(bits, n_rows)

        states = fold_groups(
            both, [*self._groups, "shard_id"], _STATE_COLS, lambda head: [None, None, 0], add, emit
        )
        return ShardedBloom(self.params, states, self.group_col)

    def union(self, other: "ShardedBloom") -> "ShardedBloom":
        """Per-(group?, shard) bitwise OR (poppy ``union_merge``,
        ``v2.rs:476-494``); a group present on one side only passes through
        unchanged (OR with all-zero)."""
        return self._fold(other, "or")

    def intersection(self, other: "ShardedBloom") -> "ShardedBloom":
        """Per-(group?, shard) bitwise AND (poppy ``intersection_merge``,
        ``v2.rs:628-646``).  A GROUP present on one side only vanishes: its
        intersection is the empty filter, which probes all-False exactly
        like a never-built group."""
        return self._fold(other, "and")

    # --- estimates ---------------------------------------------------------------
    def count_estimates(self) -> DataFrame:
        """Cardinality estimates ``(group?, estimate)``: poppy's per-bucket
        truncated sum (``v2.rs:575-588``), which decomposes exactly over
        contiguous shards, summed per group — equal to
        ``BloomV2.update_count()`` on each reassembled filter.  Stays
        distributed: one pandas UDF over state rows + one grouped sum."""
        from poppy_spark.core.statekern import _sum_bucket_estimates, v2_bucket_ones
        from poppy_spark.spark.agg import decompress_blob

        n_hash = self.params.n_hash_buck

        @F.pandas_udf("decimal(38,0)")
        def shard_est(states: pd.Series) -> pd.Series:
            import decimal

            out = []
            for raw in states:
                buckets = np.frombuffer(decompress_blob(raw), dtype=np.uint8)
                ones = v2_bucket_ones(buckets, buckets.size // BUCKET_SIZE)
                out.append(decimal.Decimal(_sum_bucket_estimates(ones, n_hash)))
            return pd.Series(out)

        return self.states.groupBy(*self._groups).agg(
            F.sum(shard_est(F.col("state"))).cast("long").alias("estimate")
        )

    def count_estimate(self) -> int:
        """The flat filter's :meth:`count_estimates` value."""
        if self.group_col:
            raise ValueError("a grouped filter has one estimate per group; use count_estimates()")
        return int(self.count_estimates().collect()[0]["estimate"] or 0)

    def count_common(self, other: "ShardedBloom") -> DataFrame:
        """Common-entry estimates ``(group?, estimate)`` — poppy
        ``count_common_entries`` (``bloom.rs:343-356``): the count estimate
        of the intersection, equal to ``BloomV2.count_common_entries`` on
        each group's two reassembled filters.  Groups with no commonly
        touched shard are omitted (their estimate is 0)."""
        return self.intersection(other).count_estimates()

    def n_rows(self) -> int:
        return int(self.states.agg(F.sum("n_rows")).collect()[0][0] or 0)

    @property
    def capacity(self) -> int:
        return self.params.capacity

    @property
    def fpp(self) -> float:
        return self.params.fpp

    def estimated_p(self) -> float:
        """Current estimated false-positive probability (poppy
        ``estimated_p``: from the count estimate and total bit size)."""
        from poppy_spark.core.params import estimate_p

        return estimate_p(
            max(self.count_estimate(), 1), self.params.n_buckets * BUCKET_BITS
        )

    def is_full(self) -> bool:
        return self.count_estimate() >= self.params.capacity

    def info(self) -> dict:
        """Metadata summary, mirroring ``BloomFilter.info()`` plus shard
        layout — the ``show`` verb for sharded filters."""
        return {
            "version": 2,
            "capacity": self.params.capacity,
            "fpp": self.params.fpp,
            "n_buckets": self.params.n_buckets,
            "n_hash_buck": self.params.n_hash_buck,
            "n_shards": self.params.n_shards,
            "buckets_per_shard": self.params.bps,
            "shard_bytes": self.params.bps * BUCKET_SIZE,
            "size_in_bytes": self.size_in_bytes(),
            "group_col": self.group_col,
            "n_touched_shards": self.states.count(),
        }

    # --- export / persistence ------------------------------------------------------
    def size_in_bytes(self) -> int:
        """Uncompressed logical filter size (all shards of one group)."""
        return self.params.n_buckets * BUCKET_SIZE

    def to_poppy_bytes(self, max_bytes: int = 1 << 30) -> bytes:
        """Reassemble the single-file poppy v2 filter — byte-identical to a
        one-node build with the same (capacity, fpp, OptLevel.NONE).  On a
        grouped filter this ORs every group: the filter of all their keys.

        Driver-side materialization: guarded by ``max_bytes`` because a
        sharded filter exists precisely to exceed single-process memory.
        """
        if self.size_in_bytes() > max_bytes:
            raise MemoryError(
                f"sharded filter is {self.size_in_bytes()} bytes uncompressed; "
                f"refusing driver-side reassembly past max_bytes={max_bytes}"
            )
        return _v2_file(self.params, self.states.select("shard_id", "state").collect())

    def reassemble_group(self, group_value) -> bytes:
        """One group's shards as a complete poppy v2 file: the
        ``to_poppy_bytes`` reassembly after a group filter.  Collect-based:
        intended for tests/export of a single group."""
        rows = self.states.filter(F.col(self.group_col) == group_value)
        return _v2_file(self.params, rows.select("shard_id", "state").collect())

    def save(self, directory: str) -> None:
        """Persist as parquet state rows + a JSON params sidecar.  A grouped
        filter's rows are partitioned by the group column (single-group
        reads prune at the scan) and the sidecar names the column."""
        writer = self.states.write.mode("overwrite")
        meta = {
            "capacity": self.params.capacity,
            "fpp": self.params.fpp,
            "n_buckets": self.params.n_buckets,
            "n_hash_buck": self.params.n_hash_buck,
            "n_shards": self.params.n_shards,
            "bps": self.params.bps,
        }
        if self.group_col:
            writer = writer.partitionBy(self.group_col)
            meta["group_col"] = self.group_col
            # partition-column values round-trip through directory names;
            # record the true dataType so load() can undo Spark's partition
            # type inference (string groups that look numeric come back int
            # otherwise, breaking union/probe against freshly built states)
            meta["group_type"] = self.states.schema[self.group_col].dataType.json()
        writer.parquet(os.path.join(directory, "shards"))
        spark = self.states.sparkSession
        spark.createDataFrame([(json.dumps(meta),)], "meta string").coalesce(1).write.mode(
            "overwrite"
        ).json(os.path.join(directory, "meta"))

    @classmethod
    def from_poppy_bytes(
        cls,
        spark: SparkSession,
        raw: bytes,
        n_shards: int | None = None,
        target_shard_bytes: int = 64 << 20,
    ) -> "ShardedBloom":
        """Import an existing single-file poppy v2 filter (e.g. built by the
        Rust CLI) into the sharded representation — the migration path from
        the reference tooling.  Driver-side slicing: the input file must fit
        the driver once (it already does — it arrived as ``bytes``); from
        there on it lives as distributed shard rows.  OptLevel NONE only
        (the index cache does not decompose)."""
        from poppy_spark.core.v2 import BloomV2
        from poppy_spark.core.params import OptLevel
        from poppy_spark.spark.agg import compress_blob

        filt = BloomV2.loads(raw)
        if filt.opt != OptLevel.NONE:
            raise ValueError("only OptLevel NONE filters are shardable")
        p = _Params.make(filt.capacity, filt.fpp, n_shards, target_shard_bytes)
        if (p.n_buckets, p.n_hash_buck) != (filt.n_buckets, filt.n_hash_buck):
            raise ValueError(
                "filter params do not match NONE-level sizing; cannot shard"
            )
        rows = []
        for s in range(p.n_shards):
            lo = s * p.bps * BUCKET_SIZE
            hi = min((s + 1) * p.bps, p.n_buckets) * BUCKET_SIZE
            blob = filt.buckets[lo:hi]
            if blob.any():  # untouched shards stay implicit
                rows.append((s, compress_blob(blob.tobytes()), 0))
        states = spark.createDataFrame(rows or [], _STATE_SCHEMA)
        return cls(p, states)

    @classmethod
    def load(cls, spark: SparkSession, directory: str) -> "ShardedBloom":
        """Load a :meth:`save` directory, flat or grouped as its sidecar
        says."""
        from pyspark.sql.types import _parse_datatype_json_string

        meta_raw = spark.read.json(os.path.join(directory, "meta")).collect()[0]["meta"]
        m = json.loads(meta_raw)
        p = _Params(
            m["capacity"], m["fpp"], m["n_buckets"], m["n_hash_buck"],
            m["n_shards"], m["bps"],
        )
        # read a partition column as string (inference off), then cast to
        # the saved dataType: "0123"-style string groups keep their exact
        # bytes and numeric groups come back with their original type, so
        # loaded filters union/probe against freshly built states unchanged
        conf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = spark.conf.get(conf_key, "true")
        spark.conf.set(conf_key, "false")
        try:
            states = spark.read.parquet(os.path.join(directory, "shards"))
        finally:
            spark.conf.set(conf_key, prev)
        group_col = m.get("group_col")
        if m.get("group_type"):
            gt = _parse_datatype_json_string(m["group_type"])
            states = states.withColumn(group_col, F.col(group_col).cast(gt))
        return cls(p, states, group_col)


class ShardedBloomStream:
    """Structured-Streaming sink for a sharded filter: each micro-batch
    appends its shard DELTAS (only touched shards, lz4) to a parquet table;
    readers OR-merge duplicate shard rows on load.  This is the incremental
    shape for a continuously-growing 10^12-key membership filter — no batch
    ever rewrites existing state, and compaction is an idempotent
    read-merge-overwrite.

    Use as ``foreachBatch``::

        sink = ShardedBloomStream("/data/turns_bloom", capacity=10**12)
        q = stream.writeStream.foreachBatch(sink).start()
        ...
        filt = sink.current(spark)   # a ShardedBloom over the merged states

    Reopening a directory (a stream restart) must pass the same sizing it
    was created with: the deltas of two sizings cannot merge, so a
    mismatch with the stored ``params.json`` raises ``MergeError``.
    """

    def __init__(
        self,
        directory: str,
        capacity: int,
        fpp: float = 0.001,
        n_shards: int | None = None,
        target_shard_bytes: int = 64 << 20,
        col: str = "value",
    ):
        self.params = _Params.make(capacity, fpp, n_shards, target_shard_bytes)
        self.dir = directory
        self.col = col
        meta = {
            "capacity": self.params.capacity,
            "fpp": self.params.fpp,
            "n_shards": self.params.n_shards,
        }
        path = os.path.join(directory, "params.json")
        if os.path.exists(path):
            with open(path) as f:
                stored = json.load(f)
            if stored != meta:
                raise MergeError(
                    f"{directory} holds a sharded filter with params {stored}; "
                    f"cannot append deltas sized {meta}"
                )
            return
        os.makedirs(directory, exist_ok=True)
        with open(path, "w") as f:
            json.dump(meta, f)

    @property
    def _shards_path(self) -> str:
        return os.path.join(self.dir, "shards")

    def _merged(self, states: DataFrame) -> ShardedBloom:
        """Appended delta rows, duplicate shards OR-merged."""
        return ShardedBloom(self.params, states)._fold(None, "or")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        keyed = _keyed(batch_df, self.col, None, "string")
        delta = _build(keyed, None, self.params, False, "string")
        delta.states.write.mode("append").parquet(self._shards_path)

    def current(self, spark: SparkSession) -> ShardedBloom:
        """The merged filter over everything appended so far."""
        return self._merged(spark.read.parquet(self._shards_path))

    def compact(self, spark: SparkSession) -> None:
        """Rewrite appended deltas as one row per shard — safe to run while
        the stream keeps appending.

        The old overwrite-in-place version could silently drop a shard delta
        appended by a concurrent ``foreachBatch`` between its read and its
        overwrite (round-2 advice finding).  This version snapshots the part
        files present NOW, merges exactly those, moves the merged part files
        in alongside, and deletes only the consumed inputs — a concurrent
        append lands as a new file that is never read nor deleted here.
        Readers racing the swap may momentarily see a consumed delta AND its
        merged replacement; the OR-merge on read makes that harmless for the
        filter bits (``n_rows`` can transiently double-count — it is a
        diagnostic, not part of the membership contract).
        """
        import glob
        import shutil
        import uuid

        consumed = sorted(glob.glob(os.path.join(self._shards_path, "*.parquet")))
        if not consumed:
            return
        merged = self._merged(spark.read.parquet(*consumed)).states
        tmp = os.path.join(self.dir, f".compact-{uuid.uuid4().hex}")
        try:
            merged.write.mode("overwrite").parquet(tmp)
            moved = []
            for i, part in enumerate(sorted(glob.glob(os.path.join(tmp, "*.parquet")))):
                dst = os.path.join(
                    self._shards_path, f"compact-{uuid.uuid4().hex}-{i:04d}.parquet"
                )
                os.replace(part, dst)
                moved.append(dst)
            if not moved:  # nothing written: leave inputs untouched
                return
            for part in consumed:
                if os.path.exists(part):
                    os.remove(part)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


def estimate_distinct_keys(
    df: DataFrame, col: str, p: int = 14, int_keys: str = "string"
) -> int:
    """Distinct-key estimate for Bloom sizing: one states-only HLL pass over
    the SAME canonicalized key expression the Bloom build hashes, so the
    estimate counts exactly what the filter will insert.  Relative error is
    ~``1.04 / sqrt(2^p)`` (~0.8% at the default p=14, 16 KB of state)."""
    from poppy_spark.sketches import HllSketch
    from poppy_spark.spark.agg import build_sketch

    return int(build_sketch(df, col, HllSketch.factory(p), int_keys=int_keys).result())


def _keyed(df: DataFrame, col: str, group_col: str | None, int_keys: str) -> DataFrame:
    """``[group_col?, __key]`` of ``df``, spread by ``agg._spread``: the
    input of :func:`_build`."""
    from poppy_spark.spark.agg import _as_key, _spread

    groups = [group_col] if group_col else []
    return _spread(df.select(*groups, _as_key(df, col, int_keys).alias("__key")))[0]


def _build(
    keyed: DataFrame,
    group_col: str | None,
    p: _Params,
    persist: bool,
    int_keys: str,
) -> ShardedBloom:
    """The one sharded build, flat (``group_col=None``) or per group, over
    a spread ``[group_col?, __key]`` frame (:func:`_keyed`; the flat
    ``agg`` build passes its own, so a call spreads its input once).

    Phase 1 (the module's one ``mapInArrow``) maps each key to its
    ``(group?, shard_id, ibucket, k bit indexes)`` tuple.  A flat build
    drops repeated keys within a batch (``h1`` dedup); a per-group build
    cannot, since one key may belong to several groups of a batch.
    Phase 2 folds the tuples per ``(group?, shard_id)`` with
    ``agg.fold_groups``, OR-ing them into one shard's buckets, so task
    memory is one shard plus one Arrow batch at any capacity or group
    count.  ``n_rows`` counts the tuples that reached the fold."""
    from poppy_spark.spark.agg import _STATE_COLS, fold_groups

    groups = [group_col] if group_col else []
    gfields = [keyed.schema[g] for g in groups]
    int_mode = _INT_MODE[int_keys]
    dedup = not groups

    def index_fn(batches):
        for b in batches:
            shard, ib, idx, _ = _route_batch(b.column("__key"), p, dedup, int_mode)
            yield pa.RecordBatch.from_arrays(
                [*b.columns[: len(groups)], pa.array(shard), pa.array(ib), _idx_to_binary(idx)],
                [*groups, "shard_id", "ib", "idx"],
            )

    route_schema = T.StructType(
        [
            *gfields,
            T.StructField("shard_id", T.IntegerType()),
            T.StructField("ib", T.LongType()),
            T.StructField("idx", T.BinaryType()),
        ]
    )
    tuples = keyed.mapInArrow(index_fn, route_schema)
    k, bps = p.n_hash_buck, p.bps

    def start(head: tuple) -> list:
        heads, j = head
        shard = heads[-1][j].as_py()
        return [np.zeros(p.shard_buckets(shard) * BUCKET_SIZE, dtype=np.uint8), 0, shard * bps]

    def add(acc: list, view: tuple, lo: int, hi: int) -> None:
        # no dedup sort: the OR scatter makes duplicate bit ids harmless
        ib, idx = view
        statekern.v2_or_batch(acc[0], None, ib[lo:hi] - acc[2], idx[lo:hi], None)
        acc[1] += hi - lo

    def prepare(b: pa.RecordBatch) -> tuple:
        return b.column("ib").to_numpy(zero_copy_only=False), _binary_to_idx(b.column("idx"), k)

    states = fold_groups(
        tuples, [*groups, "shard_id"], _STATE_COLS, start, add,
        lambda acc: _shard_row(acc[0], acc[1]), prepare,
    )
    if persist:
        states = states.persist()
    return ShardedBloom(p, states, group_col)


def build_sharded_bloom(
    df: DataFrame,
    col: str,
    capacity: int | str,
    fpp: float = 0.001,
    n_shards: int | None = None,
    target_shard_bytes: int = 64 << 20,
    persist: bool = True,
    int_keys: str = "string",
    auto_headroom: float = 0.05,
) -> ShardedBloom:
    """Distributed build of a bucket-range-sharded poppy v2 filter.

    ``n_shards`` defaults to whatever keeps a shard near
    ``target_shard_bytes`` (64 MB — comfortably inside one task while giving
    a 2 TB filter ~32k-way spread).  ``persist=True`` caches the shard
    states (they are the reusable product; recomputing them re-runs the
    whole build).

    ``capacity="auto"`` sizes the filter from the data itself: one cheap
    states-only HLL pass (:func:`estimate_distinct_keys`) estimates the
    distinct-key count, padded by ``auto_headroom`` plus 3x the HLL's own
    relative error — at 10^12 keys nobody knows the distinct count a
    priori, and undersizing blows the FP bound while 2x oversizing wastes
    half the cluster's filter memory.  Costs one extra scan of the key
    column (shuffles only 16 KB HLL states).
    """
    if capacity == "auto":
        est = estimate_distinct_keys(df, col, int_keys=int_keys)
        pad = auto_headroom + 3 * 1.04 / math.sqrt(2**14)
        capacity = max(1024, math.ceil(est * (1.0 + pad)))
    elif not isinstance(capacity, int):
        raise TypeError(f"capacity must be an int or 'auto', got {capacity!r}")
    p = _Params.make(capacity, fpp, n_shards, target_shard_bytes)
    return _build(_keyed(df, col, None, int_keys), None, p, persist, int_keys)


def build_sharded_bloom_grouped(
    df: DataFrame,
    col: str,
    group_col: str,
    capacity: int,
    fpp: float = 0.001,
    n_shards: int | None = None,
    target_shard_bytes: int = 64 << 20,
    persist: bool = True,
    int_keys: str = "string",
) -> ShardedBloom:
    """Distributed build of one bucket-range-sharded v2 filter PER GROUP,
    sized ``capacity``/``fpp`` each: the flat build with ``group_col``
    added to the shard key.  This closes the shape
    ``build_sketch_grouped``'s memory guard points at — per-group filters
    too big for groups-seen x state-bytes per task."""
    p = _Params.make(capacity, fpp, n_shards, target_shard_bytes)
    return _build(_keyed(df, col, group_col, int_keys), group_col, p, persist, int_keys)
