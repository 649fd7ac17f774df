"""Broadcast-probe operators: Bloom membership as a DataFrame predicate.

The distributed shape of poppy's ``check`` command (load filter once, share
read-only across workers, stream entries — ``poppy/src/bin/poppy.rs:337-410``):
``SparkContext.broadcast`` ships the state once per executor; a vectorized
``pandas_udf`` gathers the k bits per Arrow batch.  No shuffle at all — the
probe is a narrow transformation, usable as an approximate semi-/anti-join
predicate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.functions import arrow_udf, pandas_udf

from poppy_spark.core import BloomFilter
from poppy_spark.sketches.base import _INT_MODE

#: per-worker cache of deserialized filters, keyed by broadcast id (avoids
#: re-parsing the state for every Arrow batch).  Bounded: long-lived
#: executors would otherwise leak one multi-MB filter per probe invocation.
_FILTER_CACHE: dict = {}
_FILTER_CACHE_MAX = 8


def _broadcast_id(bc) -> int:
    """Driver-side numeric id of a PySpark Broadcast (stable per broadcast)."""
    try:
        return int(bc._jbroadcast.id())
    except Exception:
        return id(bc)


def _cache_get(key):
    val = _FILTER_CACHE.pop(key, None)
    if val is not None:  # re-insert = move to most-recent position
        _FILTER_CACHE[key] = val
    return val


def _cache_put(key, val):
    while len(_FILTER_CACHE) >= _FILTER_CACHE_MAX:
        _FILTER_CACHE.pop(next(iter(_FILTER_CACHE)))
    _FILTER_CACHE[key] = val


def _get_filter(bc, key: str) -> BloomFilter:
    filt = _cache_get(key)
    if filt is None:
        from poppy_spark.core import loads

        filt = loads(bytes(bc.value))
        _cache_put(key, filt)
    return filt


def bloom_contains_udf(
    spark: SparkSession, filt: BloomFilter | bytes, int_keys: str = "string"
):
    """A reusable boolean vectorized UDF testing membership in ``filt``.

    An Arrow-native UDF: the key column arrives as a ``pyarrow.Array`` and
    feeds ``pack_arrow`` directly — no Arrow -> pandas object-string ->
    Arrow round trip.

    ``int_keys`` must match the BUILD side's mode.  With the default
    ``"string"`` the UDF expects text keys and raises on integer input (the
    caller casts in SQL); ``"le8"``/``"typed"`` opt into the two
    Rust-compatible integer hashings (see :func:`poppy_spark.spark.agg._as_key`).
    """
    state = filt.dumps() if isinstance(filt, BloomFilter) else bytes(filt)
    bc = spark.sparkContext.broadcast(state)
    # keyed by broadcast id: re-probing with the same broadcast reuses the
    # parsed filter; distinct probes rotate through the bounded LRU
    cache_key = f"bloom-{_broadcast_id(bc)}"
    int_mode = _INT_MODE[int_keys]

    @arrow_udf("boolean")
    def contains(keys: pa.Array) -> pa.Array:
        f = _get_filter(bc, cache_key)
        from poppy_spark.core.hashkern import pack_arrow

        mat, lens = pack_arrow(keys, int_mode=int_mode)
        return pa.array(f.contains_packed(mat, lens))

    return contains


def bloom_contains(
    df: DataFrame,
    col: str | Column,
    filt: BloomFilter | bytes,
    output_col: str = "hit",
    int_keys: str = "string",
) -> DataFrame:
    """Append a boolean membership column (the ``check`` verb).

    The probe key expression mirrors the build side's ``_as_key`` exactly:
    string/binary columns pass through untouched (casting binary to string
    would re-encode non-UTF8 bytes and break the zero-false-negative
    contract); everything else casts to its string form — or, with
    ``int_keys="le8"``, integers hash as fixed 8-byte LE values matching a
    filter built with the same mode (poppy's Rust typed-key semantics).
    Use the SAME mode as the build."""
    from poppy_spark.spark.agg import _as_key

    spark = df.sparkSession
    udf = bloom_contains_udf(spark, filt, int_keys)
    return df.withColumn(output_col, udf(_as_key(df, col, int_keys)))


def register_bloom_sql(
    spark: SparkSession, name: str, filt: BloomFilter | bytes, int_keys: str = "string"
) -> None:
    """Register the membership probe as a SQL function, so the filter is
    usable from pure SQL::

        register_bloom_sql(spark, "seen_text", bloom.dumps())
        spark.sql("SELECT * FROM turns WHERE seen_text(text)")

    The function is the same broadcast + Arrow-vectorized UDF as
    :func:`bloom_contains`; with the default ``int_keys="string"`` callers
    cast non-string keys in the SQL (an uncast integer column raises rather
    than probing bytes the build never hashed).
    """
    spark.udf.register(name, bloom_contains_udf(spark, filt, int_keys))


def bloom_semi_join(df: DataFrame, col: str, filt: BloomFilter | bytes) -> DataFrame:
    """Keep rows whose key is (probably) in the filter — approximate
    LEFT SEMI JOIN with zero false negatives (``check`` without --verify)."""
    return bloom_contains(df, col, filt, "__hit__").filter(F.col("__hit__")).drop("__hit__")


def bloom_anti_join(df: DataFrame, col: str, filt: BloomFilter | bytes) -> DataFrame:
    """Keep rows definitely NOT in the filter (``check --verify`` NOK lines,
    ``bin/poppy.rs:388-393``)."""
    return bloom_contains(df, col, filt, "__hit__").filter(~F.col("__hit__")).drop("__hit__")


def bloom_contains_grouped(
    df: DataFrame,
    col: str,
    group_col: str,
    states_df: DataFrame,
    output_col: str = "hit",
    max_groups: int = 10_000,
) -> DataFrame:
    """Probe each row against *its group's* filter.

    ``states_df`` is the output of ``build_sketch_grouped`` restricted to one
    group column: ``(group, state binary, ...)``.  The whole state dict is
    broadcast, so the probe stays a narrow, shuffle-free transformation; rows
    whose group has no filter probe False.

    This shape is right ONLY for low-cardinality groups (role / tool / day
    buckets — at most ``max_groups`` of them): the states must collectively
    fit one broadcast value and one Python worker's memory.  Grouping by a
    high-cardinality key (``conv_id``) raises; use a join against
    ``states_df`` or the bucket-sharded filter (:mod:`poppy_spark.spark
    .sharded`) instead, which shuffle states once each rather than
    broadcasting them everywhere.
    """
    from poppy_spark.spark.agg import _as_key

    spark = df.sparkSession
    gname = states_df.columns[0] if group_col not in states_df.columns else group_col
    # at most max_groups + 1 states reach the driver: past the guard, the
    # rest are never pulled
    rows = states_df.select(gname, "state").limit(max_groups + 1).collect()
    if len(rows) > max_groups:
        raise ValueError(
            f"bloom_contains_grouped: more than max_groups={max_groups} group "
            "states; group-by key cardinality is too high for a broadcast "
            "probe — use a shuffle join on the states "
            "DataFrame or poppy_spark.spark.sharded instead"
        )
    states = {r[gname]: bytes(r["state"]) for r in rows}
    bc = spark.sparkContext.broadcast(states)
    cache_key = f"bloom-grouped-{_broadcast_id(bc)}"

    @pandas_udf("boolean")
    def contains(groups: pd.Series, keys: pd.Series) -> pd.Series:
        from poppy_spark.core import loads
        from poppy_spark.core.hashkern import pack_arrow

        filters = _cache_get(cache_key)
        if filters is None:
            filters = {g: loads(raw) for g, raw in bc.value.items()}
            _cache_put(cache_key, filters)
        out = np.zeros(len(keys), dtype=bool)
        karr = pa.Array.from_pandas(keys)
        mat, lens = pack_arrow(karr)
        gvals = groups.to_numpy()
        for g in pd.unique(groups):
            f = filters.get(g)
            if f is None:
                continue
            sel = np.flatnonzero(gvals == g)
            out[sel] = f.contains_packed(mat[sel], lens[sel])
        return pd.Series(out)

    return df.withColumn(output_col, contains(F.col(group_col), _as_key(df, col)))


def bloom_contains_grouped_join(
    df: DataFrame,
    col: str,
    group_col: str,
    states_df: DataFrame,
    output_col: str = "hit",
) -> DataFrame:
    """Per-group membership for HIGH-cardinality groups (e.g. ``conv_id``):
    a single group-keyed shuffle instead of a broadcast dict.

    States and probe rows union into one stream tagged ``state-first``,
    shuffle ONCE on the group key, and sort within partitions so each
    group's state row immediately precedes its probe rows; one
    ``mapInArrow`` pass then probes segment-by-segment — thousands of
    groups per Python invocation.  This replaces the round-5 shape
    (``cogroup().applyInPandas`` = one Python call PER GROUP — the
    per-row-Python anti-pattern at group granularity, 599 s at sf1 — plus
    a full-input ``localCheckpoint`` pinning a ``monotonically_increasing_
    id`` for the join-back).  Rows ride the shuffle as columns and come
    back with ``output_col`` appended (as in the sharded filters' shuffle
    probe), so there is no row id, no materialization, and no join-back;
    each group's filter crosses the wire exactly once.  Rows
    whose group has no state probe False.  Output = ``df`` columns +
    ``output_col``.
    """
    import pyspark.sql.types as T

    from pyspark.sql.pandas.types import to_arrow_schema

    from poppy_spark.spark.agg import _as_key

    gname = states_df.columns[0] if group_col not in states_df.columns else group_col
    in_cols = list(df.columns)
    key_expr = _as_key(df, col)
    ktype = df.select(key_expr.alias("__k")).schema[0].dataType
    probe_side = df.select(
        F.col(group_col).alias("__pgj_g"),
        F.lit(1).cast("int").alias("__pgj_tag"),
        key_expr.alias("__pgj_key"),
        F.lit(None).cast("binary").alias("__pgj_state"),
        *[F.col(c) for c in in_cols],
    )
    state_side = states_df.select(
        F.col(gname).alias("__pgj_g"),
        F.lit(0).cast("int").alias("__pgj_tag"),
        F.lit(None).cast(ktype).alias("__pgj_key"),
        F.col("state").alias("__pgj_state"),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in df.schema.fields],
    )
    u = (
        probe_side.unionByName(state_side)
        .repartition(F.col("__pgj_g"))
        .sortWithinPartitions("__pgj_g", "__pgj_tag")
    )
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(output_col, T.BooleanType())]
    )
    arrow_out = to_arrow_schema(out_schema)
    n_meta = 4

    def probe_fn(batches):
        from poppy_spark.core import loads
        from poppy_spark.core.hashkern import pack_arrow
        from poppy_spark.spark.agg import _key_runs

        cur_f = None
        for b, bounds, cont in _key_runs(batches, 1):
            tags = b.column(1).to_numpy(zero_copy_only=False)
            states_col = b.column(3)
            probe_pos = np.flatnonzero(tags == 1)
            hit = np.zeros(probe_pos.size, dtype=bool)
            route = None  # (template_filter, ibucket, idx, bucket_hash)
            if probe_pos.size:
                mat, lens = pack_arrow(b.column(2).take(pa.array(probe_pos)))
            # per group run: its state rows (tag 0) sort before its probe
            # rows, which are probe_pos[pb[j]:pb[j + 1]]
            n_state = np.add.reduceat((tags == 0).astype(np.int64), bounds[:-1])
            pb = np.searchsorted(probe_pos, bounds)
            for j in range(len(bounds) - 1):
                if j or not cont:
                    cur_f = None
                if n_state[j] and cur_f is None:  # first state row wins
                    cur_f = loads(bytes(states_col[int(bounds[j])].as_py()))
                if cur_f is None or pb[j] == pb[j + 1]:
                    continue
                sel = slice(pb[j], pb[j + 1])
                # route the batch ONCE (same-params filters share hashing)
                # and test each group's slice against its own filter: ~7x
                # cheaper than a full pack+hash+test per segment
                if route is None and getattr(cur_f, "version", None) == 2:
                    route = (cur_f, *cur_f.route_packed(mat, lens))
                if route is not None and route[0].has_same_params(cur_f):
                    hit[sel] = cur_f.contains_routed(
                        route[1][sel], route[2][sel], route[3][sel]
                    )
                else:
                    hit[sel] = cur_f.contains_packed(mat[sel], lens[sel])
            if probe_pos.size:
                take = pa.array(probe_pos)
                cols = [b.column(n_meta + i).take(take) for i in range(len(in_cols))]
                cols.append(pa.array(hit))
                yield pa.RecordBatch.from_arrays(cols, schema=arrow_out)

    return u.mapInArrow(probe_fn, out_schema)
