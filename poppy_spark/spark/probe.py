"""Broadcast-probe operators: Bloom membership as a DataFrame predicate.

The distributed shape of poppy's ``check`` command (load filter once, share
read-only across workers, stream entries — ``poppy/src/bin/poppy.rs:337-410``):
``SparkContext.broadcast`` ships the state once per executor; an Arrow
UDF gathers the k bits per Arrow batch.  No shuffle at all — the
probe is a narrow transformation, usable as an approximate semi-/anti-join
predicate.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.functions import arrow_udf

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


def _union_state(f: BloomFilter | None, state: bytes) -> BloomFilter:
    """``f`` OR the filter ``state`` holds (``f=None``: that filter): the
    state rows of one group fold together."""
    from poppy_spark.core import loads

    g = loads(bytes(state))
    if f is not None:
        g.union_merge(f)
    return g


def _prepare_keys(route: list) -> list:
    """A batch's probe keys packed once: ``[mat, lens, routing]``, the
    routing filled by the first v2 filter :func:`_test_keys` meets."""
    from poppy_spark.core.hashkern import pack_arrow

    return [*pack_arrow(route[0]), None]


def _test_keys(f: BloomFilter, view: list, lo: int, hi: int) -> np.ndarray:
    """Membership of keys ``[lo, hi)`` of a :func:`_prepare_keys` view in
    ``f``.  The batch is routed ONCE (same-params filters share hashing)
    and each group's slice tests against its own filter: ~7x cheaper than
    a full pack+hash+test per group."""
    mat, lens, routed = view
    if routed is None and getattr(f, "version", None) == 2:
        routed = view[2] = (f, *f.route_packed(mat, lens))
    if routed is not None and routed[0].has_same_params(f):
        return f.contains_routed(routed[1][lo:hi], routed[2][lo:hi], routed[3][lo:hi])
    return f.contains_packed(mat[lo:hi], lens[lo:hi])


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
    group column: ``(group, state binary, ...)``.  The states are collected
    once as Arrow and broadcast, so the probe stays a narrow, shuffle-free
    transformation.  Each batch finds its rows' groups with one
    ``index_in`` over the broadcast group column, both sides in the type
    the grouped join's union coerces them to; NULL equals NULL, NaN equals
    NaN and a timestamp matches in any session zone, as the grouped join's
    shuffle matches them.  It then probes each group's rows against that
    group's filter, the batch routed once.  Several state rows of one
    group OR together; rows whose group has no filter probe False.

    This shape is right ONLY for low-cardinality groups (role / tool / day
    buckets — at most ``max_groups`` of them): the states must collectively
    fit one broadcast value and one Python worker's memory.  Grouping by a
    high-cardinality key (``conv_id``) raises; use a join against
    ``states_df`` or the bucket-sharded filter (:mod:`poppy_spark.spark
    .sharded`) instead, which shuffle states once each rather than
    broadcasting them everywhere.
    """
    import pyarrow.compute as pc

    from poppy_spark.spark.agg import _as_key

    spark = df.sparkSession
    gname = states_df.columns[0] if group_col not in states_df.columns else group_col
    # both sides' groups in the type the grouped join's union matches them in
    gtype = df.select(group_col).unionByName(
        states_df.select(F.col(gname).alias(group_col))
    ).schema[0].dataType
    # at most max_groups + 1 states reach the driver: past the guard, the
    # rest are never pulled
    table = states_df.select(F.col(gname).cast(gtype), "state").limit(max_groups + 1).toArrow()
    if table.num_rows > max_groups:
        raise ValueError(
            f"bloom_contains_grouped: more than max_groups={max_groups} group "
            "states; group-by key cardinality is too high for a broadcast "
            "probe — use a shuffle join on the states "
            "DataFrame or poppy_spark.spark.sharded instead"
        )
    bc = spark.sparkContext.broadcast(table)
    cache_key = f"bloom-grouped-{_broadcast_id(bc)}"

    def filters() -> tuple:
        """``(group values, one filter per group value)``, duplicate groups'
        states OR'd into their first row's filter."""
        ent = _cache_get(cache_key)
        if ent is None:
            groups = bc.value.column(0).combine_chunks()
            first = pc.index_in(groups, value_set=groups, skip_nulls=False).to_numpy()
            fs: list = [None] * len(groups)
            for i, state in enumerate(bc.value.column(1).to_pylist()):
                fs[first[i]] = _union_state(fs[first[i]], state)
            ent = (groups, fs)
            _cache_put(cache_key, ent)
        return ent

    @arrow_udf("boolean")
    def contains(groups: pa.Array, keys: pa.Array) -> pa.Array:
        value_set, fs = filters()
        slot = pc.index_in(groups, value_set=value_set, skip_nulls=False).fill_null(-1)
        slot = slot.to_numpy()
        order = np.argsort(slot, kind="stable")  # each group's rows contiguous
        runs = slot[order]
        starts = np.flatnonzero(np.diff(runs, prepend=-2))
        view = _prepare_keys([keys.take(order)])
        out = np.zeros(len(slot), dtype=bool)
        for lo, hi in zip(starts, [*starts[1:], len(slot)]):
            if runs[lo] >= 0:
                out[order[lo:hi]] = _test_keys(fs[runs[lo]], view, int(lo), int(hi))
        return pa.array(out)

    return df.withColumn(output_col, contains(F.col(group_col).cast(gtype), _as_key(df, col)))


def bloom_contains_grouped_join(
    df: DataFrame,
    col: str,
    group_col: str,
    states_df: DataFrame,
    output_col: str = "hit",
) -> DataFrame:
    """Per-group membership for HIGH-cardinality groups (e.g. ``conv_id``):
    a single group-keyed shuffle instead of a broadcast dict.

    The sorted run walker (``agg.probe_runs``) keyed on the group: states
    and probe rows shuffle ONCE on the group key and sort so each group's
    state rows precede its probe rows; one iterator Arrow UDF then probes
    run by run — thousands of groups per Python invocation, each batch
    packed and routed once.  Python sees only the group, the key and the
    states and returns one bit per row: the payload columns stay in the
    JVM, so there is no row id, no materialization and no join-back, and
    each group's filter crosses the wire exactly once (several state rows
    of one group OR together).  This replaces the round-5 shape
    (``cogroup().applyInPandas`` = one Python call PER GROUP — the
    per-row-Python anti-pattern at group granularity, 599 s at sf1 — plus
    a full-input ``localCheckpoint`` pinning a ``monotonically_increasing_
    id`` for the join-back).  Rows whose group has no state probe False.
    Output = ``df`` columns + ``output_col``.
    """
    from poppy_spark.spark.agg import _TEXTUAL, _as_key, probe_runs

    gname = states_df.columns[0] if group_col not in states_df.columns else group_col
    # a string/binary key is its own routing column, so it crosses the
    # shuffle once; any other key routes on its canonical string copy
    textual = col in df.columns and df.schema[col].dataType.simpleString() in _TEXTUAL
    kcol = col if textual and col != group_col else "__key"
    rows = df if kcol == col else df.select("*", _as_key(df, col).alias("__key"))
    states = states_df.select(F.col(gname).alias(group_col), "state")
    return probe_runs(
        rows, states, [group_col], [kcol], df.columns, output_col,
        _union_state, _prepare_keys, _test_keys,
    )
