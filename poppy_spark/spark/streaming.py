"""Structured Streaming integration for mergeable sketches.

The reference is a pure batch library; its incremental story is "load filter,
insert new entries, save" (``poppy/src/bin/poppy.rs:320-335``).  The streaming
analog here is one ``foreachBatch`` sink, :class:`StreamingSketch`: each
micro-batch folds through the same two-phase aggregation into a state file
that records the last folded batch id, so the sink is exactly-once — the
sketch state *is* the streaming state, and merge associativity makes
micro-batch boundaries invisible in the final bytes.
:class:`BloomStreamDedup` is that sink plus a gate: only a batch's
first-seen keys are written out and folded.

For grouped sketches, a watermarked window + grouped build per micro-batch
writes (window, group, state) rows under ``batch=<id>`` (a replay overwrites
its own rows) that downstream readers merge on read.
"""

from __future__ import annotations

import os
import struct
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from poppy_spark.sketches.base import Sketch
from poppy_spark.spark.checkpoint import _write_atomic


class StreamingSketch:
    """Maintains one merged sketch across micro-batches.

    Use as the ``foreachBatch`` callback::

        ss = StreamingSketch("/ckpt/turns_bloom", BloomSketch.factory(10**7, 1e-3))
        q = (stream.writeStream.foreachBatch(ss)
             .option("checkpointLocation", "/ckpt/turns_bloom/offsets").start())

    The sink is EXACTLY-ONCE per micro-batch: the state file holds the
    last folded ``batch_id`` ahead of the sketch bytes, written atomically
    with them, so a batch the restarted query re-offers is skipped — a
    replay never counts a CMS/KLL/t-digest/top-k batch twice.  Batch ids
    must increase, so a directory belongs to ONE query checkpoint.  A
    batch that folds no rows writes nothing.

    WORKER-SIZED STATES ONLY: every micro-batch the driver holds two copies
    of the state (the collected delta and the current) and rewrites the
    state file.  ``max_state_bytes`` (default 1 GiB) guards that shape —
    a factory whose empty state already exceeds it is refused at
    construction with a pointer to
    :class:`poppy_spark.spark.sharded.ShardedBloomStream`, whose per-batch
    cost is one append of touched SHARD deltas, driver-free.
    """

    _state_name = "stream.state"

    def __init__(
        self,
        directory: str,
        factory: Callable[[], Sketch],
        col: str = "value",
        max_state_bytes: int = 1 << 30,
    ):
        # from the parameters: serializing the state to measure it would
        # commit all of its pages
        est = factory().memory_bound_bytes()
        if est > max_state_bytes:
            raise ValueError(
                f"sketch state is ~{est} bytes; {type(self).__name__} folds the "
                f"whole state through the driver every micro-batch and is "
                f"capped at max_state_bytes={max_state_bytes} — use "
                f"poppy_spark.spark.sharded.ShardedBloomStream for filters "
                f"this large (appends per-shard deltas, no driver state)"
            )
        self.dir = directory
        self.factory = factory
        self.col = col
        os.makedirs(directory, exist_ok=True)
        self._state_path = os.path.join(directory, self._state_name)

    def _load(self) -> tuple[Sketch, int]:
        """``(sketch, last folded batch id)``; ``(empty, -1)`` before any."""
        if not os.path.exists(self._state_path):
            return self.factory(), -1
        with open(self._state_path, "rb") as f:
            raw = f.read()
        (last_batch,) = struct.unpack_from("<q", raw)
        return type(self.factory()).loads(raw[8:]), last_batch

    def current(self) -> Sketch:
        return self._load()[0]

    @contextmanager
    def _rows(self, batch_df: DataFrame, batch_id: int, sk: Sketch):
        """The rows of a batch to fold into ``sk``: the batch itself."""
        yield batch_df

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from poppy_spark.spark.agg import build_sketch

        sk, last_batch = self._load()
        if batch_id <= last_batch:  # replayed batch: already folded
            return
        with self._rows(batch_df, batch_id, sk) as rows:
            if rows.isEmpty():
                return
            sk.merge(build_sketch(rows, self.col, self.factory))
        sk.finalize_merge()
        _write_atomic(self._state_path, struct.pack("<q", batch_id) + sk.dumps(), batch_id)


def windowed_grouped_sketch_sink(
    stream: DataFrame,
    col: str,
    group_cols: list[str],
    factory: Callable[[], Sketch],
    out_path: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """writeStream pipeline writing (window, group..., state, n_rows) per
    micro-batch to ``out_path/batch=<id>`` (overwrite: a replayed batch
    replaces its own rows, exactly-once); readers union states per
    (window, group) — late data within the watermark lands as extra
    mergeable rows rather than updates."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from poppy_spark.spark.agg import build_sketch_grouped

        if batch_df.isEmpty():
            return
        g = batch_df.withColumn("window", F.window(F.col(ts_col), window).start)
        states = build_sketch_grouped(g, col, ["window", *group_cols], factory)
        # per-batch subdirectory + overwrite: a replayed batch replaces its
        # own states instead of appending a second copy
        states.write.mode("overwrite").parquet(os.path.join(out_path, f"batch={batch_id}"))

    return (
        stream.withWatermark(ts_col, watermark)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
    )


def merge_grouped_states(
    spark_df: DataFrame, group_cols: list[str], factory: Callable[[], Sketch]
) -> DataFrame:
    """Merge appended (group..., state, n_rows) rows down to one per group —
    the read-side compaction for :func:`windowed_grouped_sketch_sink`.
    The output keeps ``spark_df``'s column order; columns other than
    ``group_cols``, ``state`` and ``n_rows`` are dropped."""
    from poppy_spark.spark.agg import _StateMerge, fold_groups

    cls = type(factory())
    names = [c for c in spark_df.columns if c in (*group_cols, "state", "n_rows")]
    merged = fold_groups(
        spark_df.select(*names), group_cols,
        StructType([spark_df.schema["state"], spark_df.schema["n_rows"]]),
        lambda head: _StateMerge(cls), _StateMerge.add,
        lambda m: (m.final_state(), m.n_rows),
    )
    return merged.select(*names)


def stateful_grouped_sketch(
    stream_df: DataFrame,
    col: str,
    group_cols: list[str],
    factory: Callable[[], Sketch],
    estimate_type: str = "bigint",
) -> DataFrame:
    """Native Structured Streaming stateful operator: one persistent sketch
    per group held in the STATE STORE across micro-batches via
    ``applyInPandasWithState`` — no external state files, exactly-once
    through the checkpoint, emitting ``(group..., estimate, n_rows)`` in
    update mode after every trigger.

    This is the "custom stateful operator" shape for sketches whose result
    must be queryable continuously (the foreachBatch sinks above instead
    persist mergeable states for read-side merging).  State per group is one
    serialized sketch (KBs–MBs), so cardinality × state size must fit the
    state store — for huge single filters use :class:`ShardedBloomStream`.

    The value column is keyed as the batch builds key it (``int_keys=
    "string"``): a group's state is byte-equal to
    :func:`poppy_spark.spark.agg.build_sketch_grouped` over the same rows.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from poppy_spark.spark.agg import _key_expr

    sk0 = factory()
    sketch_cls = type(sk0)
    keyed = stream_df.select(*group_cols, _key_expr(stream_df, col, sk0).alias(col))
    by_name = {f.name: f.dataType.simpleString() for f in keyed.schema.fields}
    out_schema = ", ".join(
        [f"{g} {by_name[g]}" for g in group_cols]
        + [f"estimate {estimate_type}", "n_rows bigint"]
    )

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            raw, n = state.get
            sk = sketch_cls.loads(bytes(raw))
        else:
            sk, n = factory(), 0
        for pdf in pdfs:
            sk.update_arrow(pa.array(pdf[col]))
            n += len(pdf)
        state.update((sk.dumps(), int(n)))
        yield pd.DataFrame(
            [(*key, sk.result(), int(n))],
            columns=[*group_cols, "estimate", "n_rows"],
        )

    return keyed.groupBy(*group_cols).applyInPandasWithState(
        fn, out_schema, "state binary, n bigint", "update",
        GroupStateTimeout.NoTimeout,
    )


def exact_stream_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact streaming dedup bounded by event time: Spark's
    ``dropDuplicatesWithinWatermark`` keeps key state only for the
    watermark horizon, so state is bounded by the keys arriving within it.
    Emission follows watermark progress (a row can surface a micro-batch
    later, once the watermark has advanced past it — plan sinks/tests for
    that, not for same-batch emission).  Use when duplicates cluster in
    time (retried events, replayed turns); for corpus-lifetime dedup over
    unbounded key counts use :class:`BloomStreamDedup`."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


class BloomStreamDedup(StreamingSketch):
    """Corpus-lifetime streaming dedup with BOUNDED memory: a persistent
    Bloom filter gates each micro-batch, emitting only first-seen keys to
    ``out_path``.

    Exact-dedup state for 10^12 keys is ~tens of TB; the filter is
    ``bit_size(capacity, fpp)`` bits TOTAL, forever.  Asymmetry of Bloom
    errors does the right thing here: zero false negatives means NO
    duplicate ever passes; a false positive (rate ``fpp``) drops a unique
    key, the usual accepted trade for web-scale streaming dedup.

    Per micro-batch: within-batch ``dropDuplicates`` → broadcast probe
    against the current filter (Arrow-vectorized, no shuffle of the batch)
    → write survivors → fold survivors' keys into the filter, as
    :class:`StreamingSketch` folds a batch, exactly-once by batch id: a
    replayed batch neither drops rows (as already-inserted "seen" keys)
    nor double-writes.

    Driver holds the filter (worker-sized states; for >broadcast-budget
    filters the same gate composes with
    :class:`poppy_spark.spark.sharded.ShardedBloomStream` probes).
    """

    _state_name = "dedup.state"

    def __init__(
        self,
        directory: str,
        factory: Callable[[], Sketch],
        key_col: str,
        out_path: str,
        max_state_bytes: int = 1 << 30,
    ):
        super().__init__(directory, factory, key_col, max_state_bytes)
        self.out_path = out_path

    @contextmanager
    def _rows(self, batch_df: DataFrame, batch_id: int, sk: Sketch):
        """The batch's first-seen rows, written to ``out_path/batch=<id>``."""
        from poppy_spark.spark.probe import bloom_contains

        fresh = batch_df.dropDuplicates([self.col])
        probed = bloom_contains(fresh, self.col, sk.dumps(), "__seen")
        # persist: the parquet write and the fold would otherwise each re-run
        # the dedup shuffle + probe over the batch
        survivors = probed.filter(~F.col("__seen")).drop("__seen").persist()
        try:
            # per-batch subdirectory + overwrite: re-running a batch whose
            # state write never landed replaces its own output instead of
            # appending a second copy — the whole step is idempotent
            survivors.write.mode("overwrite").parquet(
                os.path.join(self.out_path, f"batch={batch_id}")
            )
            yield survivors
        finally:
            survivors.unpersist()
