"""Resumable sketch builds: per-partition state checkpointing with lineage.

(For filters past one worker's memory, resumability comes from the sharded
side instead: ``poppy_spark.spark.sharded.ShardedBloomStream`` appends
per-micro-batch shard deltas and OR-merges on read — re-running a failed
batch is idempotent, so no per-partition manifest is needed there.)

The distributed build writes one serialized partial state per input
partition plus a JSON manifest (partition id, row count, input fingerprint,
timing).  A resumed build loads the manifest, recomputes ONLY missing or
fingerprint-changed partitions, and unions everything — the poppy ``insert``
command's incremental shape (load filter, add new data, save —
``poppy/src/bin/poppy.rs:320-335``) generalized to partitioned inputs.
Each partition's state comes from the package's one per-partition update
(``agg._partition_update``, one spec, no groups); its thin ``mapInArrow``
wrapper keeps the two checkpoint-only steps: skipping an up-to-date
partition before it consumes a batch, and the raw, atomic part-file write.

Layout under ``dir``::

    manifest.json                 {"sketch": kind, "partitions": {pid: {...}}}
    part-00000.state ...          one poppy/sketch state file per partition
    final.state                   merged state (written by ``finish``)
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from poppy_spark.sketches.base import Sketch


def _write_atomic(path: str, data: bytes, tag: int | str) -> None:
    """The package's one state-file writer: ``data`` goes to
    ``<path>.tmp<tag>`` and is renamed over ``path``, so a reader sees the
    old file or the new one, never a torn one."""
    tmp = f"{path}.tmp{tag}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def _fingerprint(df: DataFrame, col: str) -> DataFrame:
    """Cheap per-partition input fingerprint: row count + xor/sum of
    xxhash64(key) — order-insensitive, so it is stable under rescans."""
    import pyarrow as pa

    def fp(batches):
        from pyspark import TaskContext

        import numpy as np

        n = 0
        acc = np.uint64(0)
        for b in batches:
            h = b.column(1).to_numpy(zero_copy_only=False).astype(np.int64).view(np.uint64)
            acc ^= np.bitwise_xor.reduce(h) if h.size else np.uint64(0)
            n += b.num_rows
        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([pid], pa.int64()),
                pa.array([n], pa.int64()),
                pa.array([int(acc.astype(np.int64))], pa.int64()),
            ],
            ["pid", "n_rows", "fingerprint"],
        )

    sel = df.select(F.col(col).alias("__k"), F.xxhash64(F.col(col)).alias("__h"))
    return sel.mapInArrow(fp, "pid bigint, n_rows bigint, fingerprint bigint")


def _input_snapshot(df: DataFrame) -> list | None:
    """File-metadata snapshot of the DataFrame's input: sorted
    ``(path, size, mtime_ns)``.  O(listing), no data scan.  Sizes/mtimes
    come from a driver-side stat and degrade to ``-1`` for paths the driver
    cannot stat (object-store URIs) — there the snapshot still detects
    added/removed/renamed files, which covers immutable-file stores; only
    an in-place rewrite of an existing same-name file escapes it (use
    ``fingerprint="content"`` when inputs mutate in place).  Returns None
    for non-file-backed inputs (in-memory DataFrames)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    snap = []
    for uri in sorted(files):
        path = uri[7:] if uri.startswith("file://") else uri
        try:
            st = os.stat(path)
            snap.append([uri, st.st_size, st.st_mtime_ns])
        except OSError:
            snap.append([uri, -1, -1])
    return snap


class SketchCheckpoint:
    def __init__(self, directory: str, factory: Callable[[], Sketch]):
        self.dir = directory
        self.factory = factory
        os.makedirs(directory, exist_ok=True)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.dir, "manifest.json")

    def load_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"sketch": type(self.factory()).kind, "partitions": {}}

    def _save_manifest(self, manifest: dict) -> None:
        raw = json.dumps(manifest, indent=1, sort_keys=True).encode()
        _write_atomic(self.manifest_path, raw, "")

    def build(
        self,
        df: DataFrame,
        col: str,
        resume: bool = True,
        int_keys: str = "string",
        fingerprint: str = "content",
    ) -> Sketch:
        """Build (or resume) the sketch over ``df[col]``.

        Partitions whose fingerprint matches the manifest are skipped — the
        update function returns before consuming a single Arrow batch, so a
        skipped partition pays (almost) no scan either.  Everything heavy is
        executor-side: each update task writes its own ``part-*.state`` file
        directly (``self.dir`` must be shared storage on a real cluster), and
        the final union runs as the same bounded-fan-in Spark merge tree the
        one-shot build uses.  Driver memory is O(1): it ever holds only the
        per-partition fingerprint rows and the single final state.

        ``fingerprint`` picks how change detection is paid for (round-2
        verdict item — a content-fingerprinted resume costs a full key-column
        read even when nothing changed, which at 100 TB is a full scan):

        * ``"content"`` (default) — per-partition xor-of-key-hashes; robust
          to any mutation, costs one column scan per resume.
        * ``"files"`` — a file-metadata snapshot (path, size, mtime) of the
          input.  An all-unchanged resume costs a LISTING, not a scan: the
          saved ``final.state`` is returned directly.  Any snapshot change
          falls back to the content path for that build (so only changed
          data pays).  Requires a file-backed DataFrame; in-memory inputs
          silently use content mode.

        Manifest entries for partition ids absent from the current input
        (input shrank or was repartitioned) are pruned — their stale state
        files are deleted, not silently merged in.
        """
        from poppy_spark.spark.agg import _key_expr, _merge_tree, _partition_update

        sk0 = self.factory()
        cls = type(sk0)
        manifest = self.load_manifest() if resume else {"sketch": cls.kind, "partitions": {}}
        done = manifest["partitions"]

        snap = _input_snapshot(df) if fingerprint == "files" else None
        final_path = os.path.join(self.dir, "final.state")
        if (
            resume
            and snap is not None
            and manifest.get("input_snapshot") == snap
            and done
            and os.path.exists(final_path)
        ):
            # zero-scan resume: listing matched, nothing to recompute
            with open(final_path, "rb") as f:
                return cls.loads(f.read())

        fps = {r["pid"]: r for r in _fingerprint(df, col).collect()}

        # prune stale entries: pids no longer present in the input
        for pid in [p for p in done if int(p) not in fps]:
            stale = os.path.join(self.dir, done[pid]["state_file"])
            if os.path.exists(stale):
                os.remove(stale)
            del done[pid]

        todo = {
            int(pid)
            for pid, r in fps.items()
            if str(pid) not in done
            or done[str(pid)]["fingerprint"] != r["fingerprint"]
            or done[str(pid)]["n_rows"] != r["n_rows"]
        }

        spark = df.sparkSession
        if todo:
            sdf = df.select(_key_expr(df, col, sk0, int_keys).alias("__key__"))
            factory = self.factory
            out_dir = self.dir
            bc_todo = spark.sparkContext.broadcast(todo)

            def update(batches):
                import pyarrow as pa

                from pyspark import TaskContext

                tc = TaskContext.get()
                pid = tc.partitionId() if tc is not None else 0
                if pid not in bc_todo.value:
                    return  # batches never consumed -> scan short-circuits
                for _, _, sk, n in _partition_update(batches, 0, [factory], int_keys):
                    # checkpoint files stay raw (each one a valid poppy/sketch
                    # file); written executor-side, one temp file per attempt
                    _write_atomic(
                        os.path.join(out_dir, f"part-{pid:05d}.state"), sk.dumps(),
                        f"-{tc.taskAttemptId() if tc else 0}",
                    )
                    yield pa.RecordBatch.from_arrays(
                        [pa.array([pid], pa.int64()), pa.array([n], pa.int64())],
                        ["pid", "n_rows"],
                    )

            written = sdf.mapInArrow(update, "pid bigint, n_rows bigint").collect()
            t = time.time()
            for r in written:
                done[str(r["pid"])] = {
                    "n_rows": fps[r["pid"]]["n_rows"],
                    "fingerprint": fps[r["pid"]]["fingerprint"],
                    "state_file": f"part-{r['pid']:05d}.state",
                    "updated_at": t,
                }
            # the old snapshot no longer matches final.state; the new one is
            # recorded only once final.state holds this input
            manifest.pop("input_snapshot", None)
            self._save_manifest(manifest)

        # merge all checkpointed partitions executor-side: load each state
        # file where the task runs, then tree-reduce (fan-in bounded) so the
        # driver only ever receives the single final state
        if not done:
            merged = sk0
            merged.finalize_merge()
        else:
            from poppy_spark.spark.agg import _STATES_SCHEMA, compress_blob

            files = [
                (int(pid), os.path.join(self.dir, ent["state_file"]))
                for pid, ent in done.items()
            ]
            n_rows_by_pid = {int(pid): ent["n_rows"] for pid, ent in done.items()}
            fdf = spark.createDataFrame(files, "pid bigint, path string").repartition(
                min(len(files), spark.sparkContext.defaultParallelism)
            )

            def load(batches):
                import pyarrow as pa

                for b in batches:
                    for pid, path in zip(b.column(0).to_pylist(), b.column(1).to_pylist()):
                        with open(path, "rb") as f:
                            state = compress_blob(f.read())  # a raw sketch file
                        yield pa.RecordBatch.from_arrays(
                            [pa.array([pid], pa.int64()), pa.array([state], pa.binary()),
                             pa.array([n_rows_by_pid.get(pid, 0)], pa.int64())],
                            ["pid", "state", "n_rows"],
                        )

            states = fdf.mapInArrow(load, _STATES_SCHEMA)
            row = _merge_tree(states, cls, self.factory, len(files), 8).collect()[0]
            merged = cls.loads(bytes(row["state"]))
        _write_atomic(final_path, merged.dumps(), "")
        if snap is not None and manifest.get("input_snapshot") != snap:
            # final.state now holds this input (also after a listing delta
            # that content fingerprints proved harmless, e.g. a rewrite with
            # identical keys): the NEXT files-mode resume is zero-scan
            manifest["input_snapshot"] = snap
            self._save_manifest(manifest)
        return merged

    def metrics(self) -> dict:
        """Lineage summary: rows per partition, total, staleness."""
        manifest = self.load_manifest()
        parts = manifest["partitions"]
        return {
            "sketch": manifest.get("sketch"),
            "n_partitions": len(parts),
            "total_rows": sum(p["n_rows"] for p in parts.values()),
            "partitions": parts,
        }
