"""Structured Streaming integration for mergeable sketches.

The reference is a pure batch library; its incremental story is "load filter,
insert new entries, save" (``poppy/src/bin/poppy.rs:320-335``).  The streaming
analog here: ``foreachBatch`` folds each micro-batch through the same
two-phase aggregation and unions the result into a checkpointed state — the
sketch state *is* the streaming state, and merge associativity makes
micro-batch boundaries invisible in the final bytes.

For grouped sketches, a watermarked window + grouped build per micro-batch
appends (window, group, state) rows that downstream readers merge on read.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from poppy_spark.sketches.base import Sketch


class StreamingSketch:
    """Maintains one merged sketch across micro-batches.

    Use as the ``foreachBatch`` callback::

        ss = StreamingSketch("/ckpt/turns_bloom", BloomSketch.factory(10**7, 1e-3))
        q = (stream.writeStream.foreachBatch(ss)
             .option("checkpointLocation", "/ckpt/turns_bloom/offsets").start())

    The state file is written atomically after every batch; a restarted query
    resumes from it (exactly-once per micro-batch is inherited from the sink
    checkpoint — re-processing a batch is harmless for idempotent updates
    like Bloom/HLL/MinHash, and documented as at-least-once for CMS counts).

    WORKER-SIZED STATES ONLY: every micro-batch the driver holds two copies
    of the state (the collected delta and the current) and rewrites the
    state file.  ``max_state_bytes`` (default 1 GiB) guards that shape —
    a factory whose empty state already exceeds it is refused at
    construction with a pointer to
    :class:`poppy_spark.spark.sharded.ShardedBloomStream`, whose per-batch
    cost is one append of touched SHARD deltas, driver-free.
    """

    def __init__(
        self,
        directory: str,
        factory: Callable[[], Sketch],
        col: str = "value",
        max_state_bytes: int = 1 << 30,
    ):
        est = factory().memory_bound_bytes()
        if est > max_state_bytes:
            raise ValueError(
                f"sketch state is ~{est} bytes; StreamingSketch folds the "
                f"whole state through the driver every micro-batch and is "
                f"capped at max_state_bytes={max_state_bytes} — use "
                f"poppy_spark.spark.sharded.ShardedBloomStream for filters "
                f"this large (appends per-shard deltas, no driver state)"
            )
        self.dir = directory
        self.factory = factory
        self.col = col
        os.makedirs(directory, exist_ok=True)
        self._state_path = os.path.join(directory, "stream.state")

    def current(self) -> Sketch:
        cls = type(self.factory())
        if os.path.exists(self._state_path):
            with open(self._state_path, "rb") as f:
                return cls.loads(f.read())
        return self.factory()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from poppy_spark.spark.agg import build_sketch

        if batch_df.isEmpty():
            return
        delta = build_sketch(batch_df, self.col, self.factory)
        merged = self.current()
        merged.merge(delta)
        merged.finalize_merge()
        tmp = self._state_path + f".tmp{batch_id}"
        with open(tmp, "wb") as f:
            f.write(merged.dumps())
        os.replace(tmp, self._state_path)


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
    """writeStream pipeline appending (window, group..., state, n_rows) per
    micro-batch; readers union states per (window, group) — late data within
    the watermark lands as extra mergeable rows rather than updates."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from poppy_spark.spark.agg import build_sketch_grouped

        if batch_df.isEmpty():
            return
        g = batch_df.withColumn("window", F.window(F.col(ts_col), window).start)
        states = build_sketch_grouped(g, col, ["window", *group_cols], factory)
        states.write.mode("append").parquet(out_path)

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

    The value column is hashed as-is by the sketch's Python kernel (the
    JVM-prehash fast path is a batch-aggregation optimization); pre-hash
    integers to strings or ``xxhash64`` upstream if key canonicalization
    matters for cross-filter compatibility.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    sketch_cls = type(factory())
    by_name = {f.name: f.dataType.simpleString() for f in stream_df.schema.fields}
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

    return stream_df.groupBy(*group_cols).applyInPandasWithState(
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


class BloomStreamDedup:
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
    → append survivors → fold survivors' keys into the filter via the same
    two-phase build as everything else → atomic state replace.  A
    processed ``batch_id`` is recorded inside the state file, so a
    restarted query re-offering the same batch is SKIPPED — replays
    neither drop rows (as already-inserted "seen" keys) nor double-append.

    Driver holds the filter (worker-sized states; for >broadcast-budget
    filters the same gate composes with
    :class:`poppy_spark.spark.sharded.ShardedBloomStream` probes).
    """

    def __init__(
        self,
        directory: str,
        factory: Callable[[], Sketch],
        key_col: str,
        out_path: str,
        max_state_bytes: int = 1 << 30,
    ):
        # from the parameters: the filter's pages stay untouched, where
        # serializing it to measure would commit the whole state
        est = factory().memory_bound_bytes()
        if est > max_state_bytes:
            raise ValueError(
                f"filter state is ~{est} bytes; BloomStreamDedup probes and "
                f"folds it through the driver each micro-batch (cap "
                f"{max_state_bytes}) — compose ShardedBloomStream probes for "
                f"filters this large"
            )
        self.dir = directory
        self.factory = factory
        self.key_col = key_col
        self.out_path = out_path
        os.makedirs(directory, exist_ok=True)
        self._state_path = os.path.join(directory, "dedup.state")

    def _load(self):
        import struct as _struct

        cls = type(self.factory())
        if os.path.exists(self._state_path):
            with open(self._state_path, "rb") as f:
                raw = f.read()
            (last_batch,) = _struct.unpack_from("<q", raw)
            return cls.loads(raw[8:]), last_batch
        return self.factory(), -1

    def current(self) -> Sketch:
        return self._load()[0]

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        import struct as _struct

        from poppy_spark.spark.agg import build_sketch
        from poppy_spark.spark.probe import bloom_contains

        sk, last_batch = self._load()
        if batch_id <= last_batch:  # replayed batch: already fully applied
            return
        fresh = batch_df.dropDuplicates([self.key_col])
        if not fresh.isEmpty():
            probed = bloom_contains(fresh, self.key_col, sk.dumps(), "__seen")
            # persist: the parquet write and the delta build would otherwise
            # each re-run the dedup shuffle + probe over the batch
            survivors = probed.filter(~F.col("__seen")).drop("__seen").persist()
            try:
                # per-batch subdirectory + overwrite: re-running a batch whose
                # state write never landed replaces its own output instead of
                # appending a second copy — the whole step is idempotent
                survivors.write.mode("overwrite").parquet(
                    os.path.join(self.out_path, f"batch={batch_id}")
                )
                delta = build_sketch(survivors, self.key_col, self.factory)
            finally:
                survivors.unpersist()
            sk.merge(delta)
            sk.finalize_merge()
        tmp = self._state_path + f".tmp{batch_id}"
        with open(tmp, "wb") as f:
            f.write(_struct.pack("<q", batch_id) + sk.dumps())
        os.replace(tmp, self._state_path)
