"""Two-phase mergeable-sketch aggregation over Spark DataFrames.

This is the distributed shape of poppy's ``parallel_insert`` (clone filter per
thread, insert, fold union — ``poppy/src/bin/poppy.rs:232-282``), re-expressed
Spark-first:

* **update**: ``df.mapInArrow`` over :func:`_partition_update`, the one
  per-partition loop, builds one sketch state per (input partition, group,
  spec) (Arrow batches -> numpy kernels; no per-row Python, no row
  shuffle).  The flat, grouped, profile and checkpoint builds all run it;
* **merge**: a bounded-fan-in tree of :func:`fold_groups` stages ORs the
  partial states together (shuffle volume = n_partitions x state_size,
  never the data).

Why not a pandas GROUPED_AGG UDF: Spark's grouped-agg pandas UDFs do not
support partial aggregation — they shuffle raw rows.  ``mapInArrow`` +
state-merge keeps the combine map-side, which is the only shape that survives
a 10^12-row table.

Grouped variant: phase 1 emits one state per (partition x group) — shuffling
sketch states instead of rows; phase 2 merges per group.  Skewed group keys
therefore cost one state per partition, not one shuffle partition of rows.

:func:`fold_groups` is the one shape of every grouped state merge in the
package (this module, ``sharded``, ``profile``, ``streaming``); its run
finder also drives :func:`probe_runs`, the one shuffle probe (the sharded
filters' and ``probe``'s grouped join).
"""

from __future__ import annotations

from typing import Any, Callable, Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, IntegerType, LongType, StructField, StructType

from poppy_spark.sketches.base import Sketch

__all__ = [
    "build_sketch",
    "build_sketch_df",
    "build_sketch_grouped",
    "merge_states_tree",
    "repartition_salted",
    "sketch_value_column",
]


def repartition_salted(
    df: DataFrame, key: str, partitions: int, salt_buckets: int = 16
) -> DataFrame:
    """Repartition by ``hash(key, salt)`` so one hot key (a skewed
    conversation holding a large share of all turns) spreads over
    ``salt_buckets`` partitions instead of melting one task.

    Sketch updates are order- and placement-independent (the merge is
    commutative/associative), so salting is always safe here — unlike joins,
    no de-salting step is needed.
    """
    salt = F.pmod(F.xxhash64(F.col(key), F.monotonically_increasing_id()), F.lit(salt_buckets))
    return df.repartition(partitions, F.col(key), salt)


#: envelope magics for compressed in-flight states.  A partial state from
#: one partition of a large filter is mostly zero pages (a 9M-key Bloom is a
#: 16 MB state but one partition sets ~1% of its bits), so compression cuts
#: shuffle volume ~10x.  LZ4 (pyarrow codec, GB/s-class) is preferred; zlib
#: is kept for reading older envelopes.  Checkpoint and final states stay
#: raw (poppy-compatible); only shuffle-internal rows wrap.
_Z_MAGIC = b"PSZ1"
_L4_MAGIC = b"PSL4"


def compress_blob(raw: bytes) -> bytes:
    """LZ4-wrap an in-flight state blob (mostly-zero pages compress ~10x)."""
    import struct

    import pyarrow as _pa

    comp = _pa.Codec("lz4").compress(raw).to_pybytes()
    return _L4_MAGIC + struct.pack("<Q", len(raw)) + comp


def decompress_blob(raw: bytes) -> bytes:
    """Inverse of :func:`compress_blob`; passes unwrapped blobs through."""
    raw = bytes(raw)
    if raw[:4] == _L4_MAGIC:
        import struct

        import pyarrow as _pa

        (orig_len,) = struct.unpack_from("<Q", raw, 4)
        return _pa.Codec("lz4").decompress(raw[12:], orig_len).to_pybytes()
    if raw[:4] == _Z_MAGIC:
        import zlib

        return zlib.decompress(raw[4:])
    return raw


def _z_dumps(sk: Sketch) -> bytes:
    return compress_blob(sk.dumps())


def _z_loads(cls: type, raw: bytes) -> Sketch:
    return cls.loads(decompress_blob(raw))


#: the value columns of every state row: the state and the rows it holds
_STATE_COLS = StructType([StructField("state", BinaryType()), StructField("n_rows", LongType())])
_STATES_SCHEMA = StructType([StructField("pid", LongType()), *_STATE_COLS])

#: stand-in for NaN in dict keys: Python's NaN != NaN, Spark groups NaNs as one
_NAN = ("__nan__",)


def _nan_key(v):
    """A group value as a dict key that holds NaN equal to NaN."""
    return _NAN if isinstance(v, float) and v != v else v


def _run_starts(cols: Sequence[pa.Array], n: int) -> np.ndarray:
    """Start offsets of the runs of equal keys in ``n`` rows of sorted key
    columns, found with Arrow compute (no per-row Python).  NULL equals NULL
    and NaN equals NaN, as Spark groups them; no key columns is one run."""
    change = np.zeros(max(n - 1, 0), dtype=bool)
    for c in cols:
        a, b = c.slice(1), c.slice(0, n - 1)
        ne = pc.not_equal(a, b)
        if pa.types.is_floating(c.type):
            ne = pc.and_(ne, pc.invert(pc.and_(pc.is_nan(a), pc.is_nan(b))))
        if c.null_count:
            ne = pc.coalesce(ne, pc.not_equal(pc.is_valid(a), pc.is_valid(b)))
        change |= ne.to_numpy(zero_copy_only=False)
    return np.concatenate(([0], np.flatnonzero(change) + 1))


def _key_runs(batches: Iterator[pa.RecordBatch], n_keys: int):
    """Runs of equal keys over a stream of batches sorted by their first
    ``n_keys`` columns: yields ``(batch, bounds, cont)`` per non-empty batch,
    where run ``j`` is rows ``[bounds[j], bounds[j + 1])`` and ``cont`` says
    the first run continues the previous batch's last run."""
    last = None
    for b in batches:
        n = b.num_rows
        if not n:
            continue
        keys = b.columns[:n_keys]
        cont = last is not None and len(
            _run_starts([pa.concat_arrays([l, k.slice(0, 1)]) for l, k in zip(last, keys)], 2)
        ) == 1
        last = [k.take([n - 1]) for k in keys]
        yield b, np.append(_run_starts(keys, n), n), cont


def _rows_to_batch(rows: list, keys: pa.Schema, values: pa.Schema) -> pa.RecordBatch:
    heads, vals = zip(*rows)
    # a key row ``(hs, j)`` is row j of one batch's taken run heads ``hs``:
    # concatenate each distinct ``hs`` once, then one take per key column
    blocks: dict = {}  # id(hs) -> (hs, its first row in the concatenation)
    n = 0
    for hs, _ in heads:
        if id(hs) not in blocks:
            blocks[id(hs)] = (hs, n)
            n += len(hs[0]) if hs else 0
    idx = np.fromiter((blocks[id(hs)][1] + j for hs, j in heads), np.int64, len(heads))
    cols = [
        pa.concat_arrays([hs[c] for hs, _ in blocks.values()]).take(idx).cast(f.type)
        for c, f in enumerate(keys)
    ]
    cols += [pa.array(c, type=f.type) for c, f in zip(zip(*vals), values)]
    return pa.RecordBatch.from_arrays(cols, schema=pa.schema([*keys, *values]))


#: pending output of one task before it is yielded as a batch
_FLUSH_ROWS = 1024
_FLUSH_BYTES = 64 << 20


def _batches(
    rows: Iterator[tuple[list, tuple]], keys: pa.Schema, values: pa.Schema
) -> Iterator[pa.RecordBatch]:
    """Output rows ``(key row, values)`` as batches laid out ``[*keys,
    *values]``, of at most ``_FLUSH_ROWS`` rows or about ``_FLUSH_BYTES`` of
    binary values.  A key row is ``(heads, j)``: row ``j`` of ``heads``,
    one Arrow array per key column copied from the input with ``take`` (so
    a pending row never pins an input batch) and never converted to
    Python.  It is cast to ``keys``' types, which for a timestamp's zone
    changes metadata only, so a key keeps its value in any session zone.
    ``values`` are Python values."""
    out: list = []
    out_bytes = 0
    for row in rows:
        out.append(row)
        out_bytes += sum(len(v) for v in row[1] if isinstance(v, bytes))
        if len(out) >= _FLUSH_ROWS or out_bytes >= _FLUSH_BYTES:
            yield _rows_to_batch(out, keys, values)
            out, out_bytes = [], 0
    if out:
        yield _rows_to_batch(out, keys, values)


def _new_sketch(factory: Callable[[], Sketch], int_keys: str) -> Sketch:
    sk = factory()
    sk.int_keys = int_keys
    return sk


def _absorb(ent: list, view: tuple, lo: int, hi: int) -> None:
    """Rows ``[lo, hi)`` of a key column into ``ent = [sketch, n_rows,
    ...]``, ``view = (column, batch_context or None)``: a pre-routed numpy
    scatter with a context, else ``update_arrow`` on a zero-copy slice."""
    col, ctx = view
    if ctx is not None:
        ent[0].update_slice(ctx, lo, hi)
    else:
        ent[0].update_arrow(col.slice(lo, hi - lo))
    ent[1] += hi - lo


def _partition_update(
    batches: Iterator[pa.RecordBatch],
    n_groups: int,
    factories: Sequence[Callable[[], Sketch]],
    int_keys: str = "string",
    max_bytes: int | None = None,
    nulls: bool = True,
) -> Iterator[tuple[list, int, Sketch, int]]:
    """The one per-partition sketch update (poppy's "clone a filter per
    worker, insert") over a task's Arrow batches, laid out ``[*groups,
    key_1 ... key_N]``: spec ``i`` folds ``key_{i+1}`` into sketches from
    ``factories[i]``.  Per batch: sort by the ``n_groups`` group columns
    (none: no sort), find the runs of equal groups (:func:`_run_starts`)
    and :func:`_absorb` each into its live (group, spec) sketch, looked up
    through :func:`_nan_key`.  A one-run batch goes through
    ``update_arrow`` whole; several runs share one ``batch_context``.  A
    NULL key is a value (counted in ``n_rows``); ``nulls=False`` drops it.

    Yields ``(group row, spec, sketch, n_rows)`` for every live state at
    the end, and after a batch when more than one state is live and their
    count x one state's ``memory_bound_bytes`` passes ``max_bytes`` (the
    flushed states are dropped: downstream merges per group).  The group
    row is the state's first group row as a :func:`_batches` key row,
    taken from the batch that made the state, never a Python value.  With
    no groups a task yields one state per spec even when it saw no rows."""
    live: dict = {}
    if not n_groups:
        live.update((((), i), [_new_sketch(f, int_keys), 0, ([], 0)]) for i, f in enumerate(factories))
    est = 0  # one state's memory bound; bounds grow with data (TopK keys)

    def flush():
        for (_, i), (sk, n, row) in live.items():
            yield row, i, sk, n
        live.clear()

    for b in batches:
        if not b.num_rows:
            continue
        if n_groups:
            by = [(c, "ascending") for c in b.schema.names[:n_groups]]
            b = b.take(pc.sort_indices(b, sort_keys=by))
        for i, factory in enumerate(factories):
            cols = [*b.columns[:n_groups], b.column(n_groups + i)]
            if not nulls and cols[-1].null_count:
                valid = pc.is_valid(cols[-1])
                cols = [c.filter(valid) for c in cols]
            n = len(cols[-1])
            if not n:
                continue
            bounds = np.append(_run_starts(cols[:-1], n), n)
            vals = zip(*[c.take(bounds[:-1]).to_pylist() for c in cols[:-1]]) if n_groups else [()]
            ents, made = [], []  # made: the runs that start a new state
            for j, v in enumerate(vals):
                key = (tuple(_nan_key(x) for x in v), i)
                ent = live.get(key)
                if ent is None:
                    ent = live[key] = [_new_sketch(factory, int_keys), 0, None]
                    made.append(j)
                ents.append(ent)
            # the new states' group rows, copied (the batch is never pinned)
            heads = [c.take(bounds[made]) for c in cols[:-1]] if made else []
            for m, j in enumerate(made):
                ents[j][2] = (heads, m)
            ctx = ents[0][0].batch_context(cols[-1]) if len(ents) > 1 else None
            for j, ent in enumerate(ents):
                _absorb(ent, (cols[-1], ctx), int(bounds[j]), int(bounds[j + 1]))
        if max_bytes is not None and len(live) > 1:
            est = max(est, next(iter(live.values()))[0].memory_bound_bytes())
            if len(live) * est > max_bytes:
                yield from flush()
    yield from flush()


def _update_states(
    df: DataFrame,
    n_groups: int,
    factories: Sequence[Callable[[], Sketch]],
    int_keys: str = "string",
    max_bytes: int | None = None,
    nulls: bool = True,
) -> DataFrame:
    """One ``mapInArrow`` of :func:`_partition_update` over ``df``: one row
    per yielded state, laid out ``[*groups, __spec, __pid, state,
    n_rows]`` (the group columns as :func:`_partition_update` carries them,
    the spec index, the partition id, the lz4 state and ``n_rows``).
    Callers select what they need."""
    from pyspark.sql.pandas.types import to_arrow_schema

    groups = StructType(df.schema.fields[:n_groups])
    values = StructType(
        [StructField("__spec", IntegerType()), StructField("__pid", LongType()), *_STATE_COLS]
    )
    keys_arrow, values_arrow = to_arrow_schema(groups), to_arrow_schema(values)

    def update(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        states = _partition_update(batches, n_groups, factories, int_keys, max_bytes, nulls)
        yield from _batches(
            ((row, (i, pid, _z_dumps(sk), n)) for row, i, sk, n in states),
            keys_arrow, values_arrow,
        )

    return df.mapInArrow(update, StructType([*groups, *values]))


def fold_groups(
    df: DataFrame,
    keys: Sequence[str],
    schema: StructType | str,
    start: Callable[[tuple[list, int]], Any],
    add: Callable[[Any, Any, int, int], None],
    emit: Callable[[Any], tuple | None],
    prepare: Callable[[pa.RecordBatch], Any] | None = None,
    seed: DataFrame | None = None,
) -> DataFrame:
    """Fold the rows that share ``keys`` into one output row per group,
    laid out ``[*keys, *schema]``.

    The one shape of every grouped state merge: ``repartition(*keys)``,
    ``sortWithinPartitions(*keys)``, then ONE ``mapInArrow`` pass that finds
    runs of equal keys per Arrow batch (:func:`_run_starts`) and folds
    thousands of groups per Python call.  Not ``groupBy().applyInPandas``:
    that builds a pandas frame and makes one Python call per group (round-5
    sf1 finding: ~1.5M few-row invocations = the per-row-Python anti-pattern
    at group granularity, 63% of the suite's wall), and holds a whole group
    in one frame.  Here task memory is one accumulator plus one batch (and
    at most ``_FLUSH_ROWS`` rows / ``_FLUSH_BYTES`` of pending output).

    Per group: ``acc = start(head)`` once, ``add(acc, view, lo, hi)`` once
    per batch slice ``[lo, hi)`` (a run spanning a batch boundary continues
    into the next batch; ``view = prepare(batch)``, default the batch with
    the key columns first), then ``emit(acc)`` returns the group's
    ``schema`` values (a ``StructType`` or DDL string naming only the value
    columns) or ``None`` to drop the group.  ``head = (heads, j)`` is the
    run's head row in Arrow: ``heads[c][j]`` is key column ``c``'s value,
    ``heads`` copied with ``take`` from the batch where the run started
    (with the batch's other run heads, so pending output never pins an
    input batch).  The output's key columns are those rows, taken once per
    flush and cast to ``df``'s key types, so a key keeps its value in any
    session zone.  NULL equals NULL and NaN equals NaN, as Spark groups
    them.  No ``keys`` folds everything into one group in one task; the
    rows of a ``seed`` frame (no keys only) join that task after the
    exchange, so it runs even when AQE finds the input empty and drops the
    plan above it.

    Merge order within a group is shuffle arrival order, exactly as
    ``applyInPandas``' was: every sketch either merges order-invariantly
    (Bloom/HLL/CMS/MinHash/Theta) or is gated by rank-bound oracles
    (KLL/t-digest).
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    keys = list(keys)
    n_keys = len(keys)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    key_fields = StructType([df.schema[k] for k in keys])
    keys_arrow, values_arrow = to_arrow_schema(key_fields), to_arrow_schema(schema)
    rest = [c for c in df.columns if c not in keys]
    df = df.select(*keys, *rest)
    if keys:
        df = df.repartition(*keys).sortWithinPartitions(*keys)
    elif seed is None:
        df = df.repartition(1)
    else:
        df = df.repartition(1).unionByName(seed).coalesce(1)

    def groups(batches: Iterator[pa.RecordBatch]):
        """``(head row, acc)`` of each group once all its rows were added."""
        head = acc = None
        for b, bounds, cont in _key_runs(batches, n_keys):
            view = prepare(b) if prepare is not None else b
            heads = [b.column(i).take(bounds[:-1]) for i in range(n_keys)]
            for j in range(len(bounds) - 1):
                if j or not cont:
                    if head is not None:
                        yield head, acc
                    head = (heads, j)
                    acc = start(head)
                add(acc, view, int(bounds[j]), int(bounds[j + 1]))
        if head is not None:
            yield head, acc

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rows = ((head, emit(acc)) for head, acc in groups(batches))
        return _batches(((h, v) for h, v in rows if v is not None), keys_arrow, values_arrow)

    return df.mapInArrow(fold, StructType([*key_fields, *schema]))


class _StateMerge:
    """:func:`fold_groups` accumulator merging a group's ``state`` and
    ``n_rows`` rows (lz4-wrapped or raw states alike) into one sketch.  A
    NULL state (the merge tree's seed row) holds nothing and is skipped."""

    __slots__ = ("cls", "sk", "n_rows")

    def __init__(self, cls: type):
        self.cls, self.sk, self.n_rows = cls, None, 0

    def add(self, b: pa.RecordBatch, lo: int, hi: int) -> None:
        states = b.column("state")
        for i in range(lo, hi):
            raw = states[i].as_py()
            if raw is None:
                continue
            part = _z_loads(self.cls, raw)
            if self.sk is None:
                self.sk = part
            else:
                self.sk.merge(part)
        self.n_rows += pc.sum(b.column("n_rows").slice(lo, hi - lo)).as_py() or 0

    def final_state(self, factory: Callable[[], Sketch] | None = None) -> bytes:
        """The merged state; ``factory()``'s empty sketch if no state came."""
        if self.sk is None:
            self.sk = factory()
        self.sk.finalize_merge()
        return self.sk.dumps()


def probe_runs(
    rows: DataFrame,
    states: DataFrame,
    keys: Sequence[str],
    route: Sequence[str],
    out_cols: Sequence[str],
    output_col: str,
    add: Callable[[Any, bytes], Any],
    prepare: Callable[[list], Any],
    test: Callable[[Any, Any, int, int], np.ndarray],
) -> DataFrame:
    """The ``out_cols`` of ``rows`` plus ``output_col``: does the filter of
    a row's run key ``keys`` hold it?  The one shape of every shuffle
    probe (the sharded filters' and the grouped join's).

    ``rows`` carries ``keys``, the ``route`` columns the filter tests and
    ``out_cols``; ``states`` carries ``keys`` and ``state``.  State rows
    (tag 0) union with the probe rows (tag 1), ``repartition(*keys)``
    (never ``rebalance``: AQE may split a rebalanced partition and so a
    run) and ``sortWithinPartitions(*keys, tag)``, so each run's state
    rows precede its probe rows.  One iterator Arrow UDF then walks the
    runs; it sees only the keys, the tag, the state and the routing, and
    returns one boolean per row: the payload columns stay in the JVM,
    which zips the hit back on.  The UDF is stateful, so it is marked
    nondeterministic: Catalyst must not push the ``tag == 1`` filter below
    it.  Columns the caller drops are pruned before the exchange.

    Per run: ``acc = add(acc, state)`` for each of its state rows, from
    ``acc = None`` (several state rows fold together); per batch, ``view =
    prepare(route arrays of its probe rows)``; then ``test(acc, view, lo,
    hi)`` answers probe rows ``[lo, hi)`` of the view.  A run with no
    state probes all-False.  Task memory is one ``acc`` plus one Arrow
    batch, and state rows ride in the batches too: Spark cuts a batch at
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows or at
    ``spark.sql.execution.arrow.maxBytesPerBatch`` bytes (64 MB by
    default), whichever comes first, so a batch holds at most that many
    bytes plus one state row.  When runs far outnumber the shuffle
    partitions and few probe rows arrive, batches are mostly state rows
    and fill to that byte cap; every state row reaches Python, met by a
    probe row or not.
    NULL equals NULL and NaN equals NaN in the run key, as Spark groups
    them."""
    from pyspark.sql.functions import arrow_udf

    keys, route = list(keys), list(route)
    n_keys = len(keys)
    names = [*keys, "__tag", "__state", *route]
    probe = rows.select(
        *keys,
        F.lit(1).alias("__tag"),
        *route,
        *[c for c in out_cols if c not in keys and c not in route],
    )
    tagged = states.select(*keys, F.lit(0).alias("__tag"), F.col("state").alias("__state"))
    runs = (
        probe.unionByName(tagged, allowMissingColumns=True)
        .repartition(*keys)
        .sortWithinPartitions(*keys, "__tag")
    )

    def walk(batches: Iterator[tuple[pa.Array, ...]]) -> Iterator[pa.Array]:
        acc = None
        as_batches = (pa.RecordBatch.from_arrays(list(cols), names) for cols in batches)
        for b, bounds, cont in _key_runs(as_batches, n_keys):
            n = b.num_rows
            probe_pos = np.flatnonzero(b.column(n_keys).to_numpy(zero_copy_only=False))
            pb = np.searchsorted(probe_pos, bounds)
            n_state = np.diff(bounds) - np.diff(pb)  # state rows lead each run
            state = b.column(n_keys + 1)
            hit = np.zeros(probe_pos.size, dtype=bool)
            view = None
            if probe_pos.size:
                cols = b.columns[n_keys + 2 :]
                if probe_pos.size < n:
                    cols = [c.take(probe_pos) for c in cols]
                view = prepare(cols)
            for j in range(len(bounds) - 1):
                if j or not cont:
                    acc = None
                lo = int(bounds[j])
                for i in range(lo, lo + int(n_state[j])):
                    acc = add(acc, state[i].as_py())
                if acc is not None and pb[j] < pb[j + 1]:
                    hit[pb[j] : pb[j + 1]] = test(acc, view, int(pb[j]), int(pb[j + 1]))
            out = np.zeros(n, dtype=bool)
            out[probe_pos] = hit
            yield pa.array(out)

    walker = arrow_udf(walk, "boolean").asNondeterministic()
    kept = [F.col(c).cast(rows.schema[c].dataType) if c in keys else F.col(c) for c in out_cols]
    return (
        runs.withColumn("__hit", walker(*names))
        .filter(F.col("__tag") == 1)
        .select(*kept, F.col("__hit").alias(output_col))
    )


#: Spark types whose values feed hash-based sketches as utf-8 strings.  Keys
#: are canonicalized with CAST(.. AS STRING) so that build and probe always
#: hash identical bytes; binary/string columns pass through untouched.
_TEXTUAL = ("string", "binary")


_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _as_key(df: DataFrame, col: str | Column, int_keys: str = "string") -> Column:
    """Canonicalize a key column for poppy-compatible hashing.

    ``int_keys="string"`` (default): integer columns hash as their decimal
    string — simple, but NOT byte-compatible with a Rust-built filter over
    the same numeric keys.  ``int_keys="le8"``: integers pass through as
    bigint and hash as fixed 8-byte little-endian byte slices, matching Rust
    ``insert_bytes(&k.to_le_bytes())`` (``poppy/src/hash.rs:52-63``).
    ``int_keys="typed"``: integers hash through the full wyhash of their LE
    bytes, matching Rust's typed-key blanket impl ``insert(&k)``
    (``poppy/src/hash.rs:43-50`` + ``v2.rs:77-84``; v2 only).  Build and
    probe must use the same mode or membership breaks.
    """
    c = F.col(col) if isinstance(col, str) else col
    try:
        dt = df.select(c).schema[0].dataType.simpleString()
    except Exception:
        dt = ""
    if dt in _TEXTUAL:
        return c
    if int_keys in ("le8", "typed"):
        if dt in _INTEGRAL:
            return c.cast("bigint")
        raise TypeError(
            f"int_keys='{int_keys}' requires an integral column, got {dt or '?'}"
        )
    return c.cast("string")


def _key_expr(
    df: DataFrame,
    col: str | Column,
    sk0: Sketch,
    int_keys: str = "string",
) -> Column:
    """Pick the cheapest sound key representation for the sketch ``sk0``:
    sketches that accept any 64-bit hash get JVM-side xxhash64 (8 bytes/row
    across the JVM->Python boundary instead of the raw text);
    poppy-compatible sketches need the raw bytes."""
    if getattr(sk0, "prehash_jvm", False):
        return F.xxhash64(_as_key(df, col))
    return _as_key(df, col, int_keys)


def _spread(df: DataFrame, repartition: int | None = None) -> tuple[DataFrame, int]:
    """``(df over repartition partitions, or over at least
    defaultParallelism when None, that count)``: a scan with fewer splits
    than cores must not run a per-row Python pass on a few cores (round-5:
    a one-split scan ran a whole update on ONE core).  The package's one
    read of a partition count.

    An AQE plan (one with exchanges) reads its count from the plan when a
    ``repartition(n)`` exchange fixes it (AQE never resizes those), else
    is always spread: AQE knows the count only once the shuffle stages
    have run, so reading it would run them in a job of their own, and its
    coalescing can leave a small input on fewer partitions than cores."""
    want = repartition or df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() != "AdaptiveSparkPlanExec":
        n = df.rdd.getNumPartitions()
    elif (n := _pinned_count(plan.inputPlan())) is None:
        return df.repartition(want), want
    want = repartition or max(n, want)
    return (df.repartition(want) if want != n else df), want


def _pinned_count(node) -> int | None:
    """The partition count of a physical plan whose output partitions are
    those of a ``repartition(n)`` exchange under single-child nodes only,
    else ``None``."""
    n = node.outputPartitioning().numPartitions()
    while node.getClass().getSimpleName() != "ShuffleExchangeExec":
        if node.children().size() != 1:
            return None
        node = node.children().apply(0)
    return n if node.shuffleOrigin().toString() == "REPARTITION_BY_NUM" else None


def _auto_strategy(sk0: Sketch, n_parts: int) -> str:
    """states-vs-sharded cost model (the engine's one non-Catalyst planning
    decision, since Catalyst cannot see inside state blobs): with a big v2
    NONE filter over many (``n_parts``) partitions, shipping one
    filter-sized state per partition dwarfs shipping ~(12+2k)-byte index
    tuples per key."""
    filt = getattr(sk0, "filter", None)
    if (
        filt is None
        or getattr(filt, "version", None) != 2
        or int(getattr(filt._inner, "opt", 1)) != 0
    ):
        return "states"
    state_bytes = filt.size_in_bytes()
    if state_bytes < (8 << 20):
        # below ~8 MB the byte model is noise: the sharded pipeline's two
        # extra shuffle stages cost more than shipping small states ever can
        return "states"
    k_ = filt._inner.n_hash_buck
    # rows unknown pre-scan; capacity is the sizing proxy (callers size
    # capacity at the expected key count)
    tuple_bytes = filt.capacity * (12 + 2 * k_)
    return "sharded" if state_bytes * n_parts > 4 * tuple_bytes else "states"


def _reassemble_states_df(sb) -> DataFrame:
    """Collapse a ShardedBloom's shard rows into the one-row
    ``(pid, state, n_rows)`` frame the classic build emits — executor-side,
    so the full filter bytes exist in exactly one task and never on the
    driver.  The single task must hold the whole filter: inherent to the
    one-state contract of ``build_sketch_df`` (callers needing filters past
    one worker keep the ShardedBloom itself)."""
    from poppy_spark.spark.sharded import _v2_file

    p = sb.params

    def assemble(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        n_rows = [0]

        def rows():
            for b in batches:
                n_rows.append(pc.sum(b.column("n_rows")).as_py() or 0)
                yield from zip(b.column("shard_id").to_pylist(), b.column("state").to_pylist())

        # a BloomSketch state IS the poppy v2 file, so the assembled filter's
        # bytes are directly loadable by the sketch class downstream; no
        # shard rows (an empty input) assemble the empty filter, as the
        # states strategy's merge of fresh sketches does
        raw = _v2_file(p, rows())
        yield pa.RecordBatch.from_arrays(
            [pa.array([0], pa.int64()), pa.array([raw], pa.binary()),
             pa.array([sum(n_rows)], pa.int64())],
            ["pid", "state", "n_rows"],
        )

    states = sb.states.select("shard_id", "state", "n_rows").repartition(1)
    return states.mapInArrow(assemble, _STATES_SCHEMA)


def build_sketch_df(
    df: DataFrame,
    col: str,
    factory: Callable[[], Sketch],
    repartition: int | None = None,
    merge_fanout: int = 8,
    int_keys: str = "string",
    strategy: str = "auto",
) -> DataFrame:
    """Distributed sketch build returning a 1-row DataFrame
    ``(pid, state binary, n_rows)`` — the lazy/composable form.

    ``repartition`` controls update parallelism (and is the salting hook for
    skewed inputs: a round-robin repartition spreads any hot key).  The merge
    tree bounds every task's fan-in at ``merge_fanout`` so the final reduce
    is never a serial OR over all partial states (with big states — a Bloom
    filter for 10^9 keys is ~1.7 GB — the single-task merge would dominate
    the wall-clock; Amdahl measured it at ~60% of a 64-partition build).

    ``strategy`` (``"auto"`` default, hoisted here from ``build_sketch`` in
    round 3): ``"states"`` ships one partial state per partition through the
    merge tree; ``"sharded"`` routes v2/NONE Bloom builds through the
    bucket-range-sharded pipeline (shuffle = index tuples, not states) and
    reassembles the single state in one executor task.  Both yield
    byte-identical results.
    """
    _, built = _build_flat(df, col, factory, repartition, merge_fanout, int_keys, strategy)
    return built if isinstance(built, DataFrame) else _reassemble_states_df(built)


def _build_flat(df, col, factory, repartition, merge_fanout, int_keys, strategy):
    """``(the verb's one driver-side factory() sketch, the merged one-row
    states frame or the sharded build)`` of the two flat build verbs.  Both
    routes update over the one spread key frame."""
    sk0 = factory()
    key = _key_expr(df, col, sk0, int_keys).alias("__key")
    keyed, n_parts = _spread(df.select(key), repartition)
    if strategy == "auto":
        strategy = _auto_strategy(sk0, n_parts)
    if strategy == "sharded":
        from poppy_spark.spark.sharded import _build, _Params

        filt = sk0.filter
        return sk0, _build(keyed, None, _Params.make(filt.capacity, filt.fpp), False, int_keys)
    states = _update_states(keyed, 0, [factory], int_keys)
    states = states.select(F.col("__pid").alias("pid"), "state", "n_rows")
    return sk0, _merge_tree(states, type(sk0), factory, n_parts, merge_fanout)


def merge_states_tree(
    states: DataFrame,
    factory: Callable[[], Sketch],
    n_parts: int,
    merge_fanout: int = 8,
) -> DataFrame:
    """Reduce a ``(pid, state, n_rows)`` DataFrame to one finalized state row
    via a bounded-fan-in merge tree (poppy folds sequentially; we tree-reduce
    so no single task ORs more than ``merge_fanout`` multi-MB states)."""
    return _merge_tree(states, type(factory()), factory, n_parts, merge_fanout)


def _merge_tree(
    states: DataFrame,
    cls: type,
    factory: Callable[[], Sketch],
    n_parts: int,
    merge_fanout: int,
) -> DataFrame:
    """The one-row ``(pid, state, n_rows)`` merge of ``cls`` states, also
    over an empty ``states``: the last fold's seed row (a NULL state) makes
    it run one task, which emits ``factory()``'s empty sketch when no state
    came.  Without it, AQE's empty-relation propagation drops the fold (and
    its output row) once an upstream shuffle stage comes back empty."""

    def start(head):
        return _StateMerge(cls)

    while n_parts > merge_fanout:
        n_parts = (n_parts + merge_fanout - 1) // merge_fanout
        states = fold_groups(
            states.withColumn("pid", F.col("pid") % F.lit(n_parts)),
            ["pid"],
            _STATE_COLS,
            start,
            _StateMerge.add,
            lambda m: (_z_dumps(m.sk), m.n_rows),
        )
    seed = states.sparkSession.sql(
        "SELECT 0L AS pid, CAST(NULL AS BINARY) AS state, 0L AS n_rows"
    )
    merged = fold_groups(
        states, [], _STATE_COLS, start, _StateMerge.add,
        lambda m: (m.final_state(factory), m.n_rows), seed=seed,
    )
    return merged.select(F.lit(0).cast("long").alias("pid"), "state", "n_rows")


def build_sketch(
    df: DataFrame,
    col: str,
    factory: Callable[[], Sketch],
    repartition: int | None = None,
    merge_fanout: int = 64,
    int_keys: str = "string",
    strategy: str = "auto",
) -> Sketch:
    """Distributed sketch build, returning the merged sketch on the driver.

    ``strategy`` picks the physical shape (the engine's one non-Catalyst
    planning decision, since Catalyst cannot see inside the state blobs):

    * ``"states"`` — per-partition partial states + merge tree.  Shuffle
      cost ~ ``n_partitions x state_size``.
    * ``"sharded"`` — route through the bucket-range-sharded build and
      reassemble (Bloom v2 / OptLevel NONE only).  Shuffle cost ~
      ``n_rows x (12 + 2k)`` bytes.
    * ``"auto"`` — compare the two cost models and pick: with a big filter
      over few-ish rows per partition (the 10^9-key regime), shipping one
      filter-sized state per partition dwarfs shipping index tuples.
    """
    sk0, built = _build_flat(df, col, factory, repartition, merge_fanout, int_keys, strategy)
    if isinstance(built, DataFrame):
        raw = built.collect()[0]["state"]
    else:
        # driver-destined result: reassemble driver-side from the lz4 shard
        # rows (compressed transfer) rather than collecting one giant raw
        # state row through build_sketch_df's executor-side assembly
        raw = built.to_poppy_bytes(max_bytes=8 << 30)
    return type(sk0).loads(bytes(raw))


def build_sketch_grouped(
    df: DataFrame,
    col: str,
    group_cols: Sequence[str],
    factory: Callable[[], Sketch],
    int_keys: str = "string",
    max_task_state_bytes: int = 512 << 20,
    repartition: int | None = None,
    shuffle: str = "states",
) -> DataFrame:
    """One merged sketch per group: ``(group..., state binary, n_rows)``.

    ``shuffle`` picks the physical shape (the grouped analog of
    ``build_sketch_df``'s strategy knob):

    * ``"states"`` (default) — phase 1 (map-side combine): each input
      partition emits one partial state per group it saw; phase 2 shuffles
      *states* by group key and segment-folds them.  Right when groups are
      few or skewed: a hot key costs one partial per partition, never one
      task.
    * ``"rows"`` — repartition the ``(group, key)`` tuples by group, sort
      within partitions, and build each group's FINALIZED sketch in one
      segment-fold pass: ONE shuffle of narrow rows, no partial states at
      all, task memory = one live sketch.  Right for HIGH-cardinality
      groups (round-5 sf1 finding: with ~4-row groups scattered over every
      partition, the states shape degenerates to one partial per ROW —
      5.8M state blobs through two Python passes for 1.5M groups).  A hot
      group's rows serialize into one task (time bounded by that group's
      size; memory stays O(1)) — keep ``"states"`` for skewed keys.

    Task memory is BOUNDED regardless of group cardinality (round-2 verdict
    item): phase 1 is the one per-partition update
    (:func:`_partition_update`), and after a batch, whenever more than one
    state is live and live states x one state's ``memory_bound_bytes``
    exceed ``max_task_state_bytes``, the live states are flushed as
    partial rows and dropped — phase 2 merges per group anyway, so
    multiple partials per (partition, group) are free.  One live state is
    never flushed: the next batch would only rebuild it.  High-cardinality
    group keys therefore cost extra merge rows, never worker memory.  For
    per-group filters individually too large for one task, use
    :func:`poppy_spark.spark.sharded.build_sharded_bloom_grouped` — one
    bucket-range-sharded filter per group, task memory = one shard.

    Like :func:`build_sketch_df`, a small input file count must not
    serialize phase 1 (round-5: a one-split scan ran the whole update on
    ONE core): with ``repartition=None`` a scan with fewer splits than
    cores is spread round-robin first — extra partials per group, which
    phase 2 absorbs.  Pass an explicit ``repartition`` to pin it.
    """
    if shuffle not in ("states", "rows"):
        raise ValueError(f"unknown shuffle shape {shuffle!r}")
    group_cols = list(group_cols)
    sk0 = factory()
    key = _key_expr(df, col, sk0, int_keys).alias("__key__")
    sel, _ = _spread(df.select(*group_cols, key), repartition)
    cls = type(sk0)

    if shuffle == "rows":
        # single-shuffle shape: co-locate each group's rows, sort them
        # contiguous, and fold finalized states directly — no partials
        template: list = []  # routes each batch once; made on first use per task

        def keyed_view(b: pa.RecordBatch):
            if not template:
                template.append(_new_sketch(factory, int_keys))
            key_col = b.column(len(group_cols))
            return key_col, template[0].batch_context(key_col)

        def emit_final(ent: list) -> tuple:
            ent[0].finalize_merge()
            return ent[0].dumps(), ent[1]

        return fold_groups(
            sel, group_cols, _STATE_COLS,
            lambda head: [_new_sketch(factory, int_keys), 0], _absorb, emit_final,
            prepare=keyed_view,
        )

    # Phase 1: partial states per (partition, group); phase 2 merges them
    # per group in one fold pass.
    partials = _update_states(sel, len(group_cols), [factory], int_keys, max_task_state_bytes)
    return fold_groups(
        partials.select(*group_cols, "state", "n_rows"), group_cols, _STATE_COLS,
        lambda head: _StateMerge(cls), _StateMerge.add,
        lambda m: (m.final_state(), m.n_rows),
    )


def sketch_value_column(
    states_df: DataFrame,
    sketch_cls: type[Sketch],
    value_name: str = "estimate",
    value_type: str = "bigint",
) -> DataFrame:
    """Append the finalized ``result()`` of each row's state as a column."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(value_type)
    def finalize(states: pd.Series) -> pd.Series:
        return pd.Series([sketch_cls.loads(bytes(s)).result() for s in states])

    return states_df.withColumn(value_name, finalize(F.col("state")))


def sketch_pairwise(
    states_df: DataFrame,
    sketch_cls: type[Sketch],
    value_fn,
    group_col: str,
    value_name: str = "estimate",
    value_type: str = "double",
    max_groups: int = 2000,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Pairwise sketch comparisons between groups, distributed.

    ``(group_a, group_b, <value_name>)`` for every unordered group pair,
    with ``value_fn(sk_a, sk_b) -> float`` (e.g. ``ThetaSketch.
    intersection`` / ``.jaccard``, MinHash signature similarity) evaluated
    in an Arrow-batched pandas UDF — the overlap matrix never funnels
    through the driver.

    The self-join is quadratic in groups, so it refuses past ``max_groups``
    (raise it deliberately, or pass an explicit ``pairs`` DataFrame
    ``(group_a, group_b)`` — e.g. LSH-bucketed candidates — to bound the
    comparisons yourself, which is the 10^5-groups shape).
    """
    from pyspark.sql.functions import pandas_udf

    a = states_df.select(
        F.col(group_col).alias("group_a"), F.col("state").alias("__sa")
    )
    b = states_df.select(
        F.col(group_col).alias("group_b"), F.col("state").alias("__sb")
    )
    if pairs is None:
        n = states_df.count()
        if n > max_groups:
            raise ValueError(
                f"{n} groups would make {n * (n - 1) // 2} pairs; pass an "
                "explicit candidate-pairs DataFrame (or raise max_groups)"
            )
        joined = a.join(b, F.col("group_a") < F.col("group_b"))
    else:
        joined = pairs.join(a, "group_a").join(b, "group_b")

    @pandas_udf(value_type)
    def compare(sa: pd.Series, sb: pd.Series) -> pd.Series:
        return pd.Series(
            [
                value_fn(sketch_cls.loads(bytes(x)), sketch_cls.loads(bytes(y)))
                for x, y in zip(sa, sb)
            ]
        )

    return joined.select(
        "group_a", "group_b", compare(F.col("__sa"), F.col("__sb")).alias(value_name)
    )
