"""The mergeable-sketch contract all poppy_spark sketches implement.

poppy's Bloom filter proves the pattern (fixed-size state, elementwise
update, commutative/associative merge, ``poppy/src/bloom.rs:327-340``); the
same contract powers HLL / count-min / KLL / t-digest / MinHash here, and it
is exactly Spark's partial-aggregation shape: per-partition ``update_arrow``
then a tree of ``merge`` calls.

State serialization must be self-describing (``dumps`` -> bytes,
``loads`` -> sketch) so a serialized partial state can cross the JVM/Python
boundary as a plain ``BinaryType`` value.
"""

from __future__ import annotations

import abc
from typing import Any

import numpy as np


class Sketch(abc.ABC):
    """Mergeable sketch: update with an Arrow column, merge, finalize."""

    #: short type tag written into the serialized header
    kind: str = ""

    #: integer-key canonicalization mode for hash-compatible sketches
    #: ("string" | "le8" | "typed"); set by the Spark aggregation layer so
    #: build-side packing matches the probe-side ``int_keys`` argument.
    #: Only consulted by sketches that hash raw key bytes (Bloom); states
    #: never carry it (a merged state is mode-agnostic bytes).
    int_keys: str = "string"

    @abc.abstractmethod
    def update_arrow(self, arr) -> None:
        """Absorb a ``pyarrow.Array`` column chunk (vectorized, no per-row
        Python)."""

    @abc.abstractmethod
    def merge(self, other: "Sketch") -> None:
        """In-place merge; must be commutative and associative."""

    @abc.abstractmethod
    def dumps(self) -> bytes:
        ...

    @classmethod
    @abc.abstractmethod
    def loads(cls, raw: bytes) -> "Sketch":
        ...

    @abc.abstractmethod
    def result(self) -> Any:
        """The sketch's answer (estimate, signature, quantile fn...)."""

    def memory_bound_bytes(self) -> int:
        """Upper bound on this sketch's IN-MEMORY footprint once populated —
        checked by grouped builds once per Arrow batch.  Defaults to the
        serialized size, a whole serialization per call: fixed-size sketches
        override it from their parameters, and sketches with a compact wire
        encoding (sparse HLL) with their dense size."""
        return len(self.dumps())

    def batch_context(self, arr):
        """Optional hash-once context over a whole Arrow batch for the
        grouped-build fast path: when a sketch can precompute its routing
        (hash indexes) for a batch ONCE and absorb per-group row slices
        via :meth:`update_slice`, return an opaque context here.  Default
        ``None`` = no fast path; the grouped build falls back to
        :meth:`update_arrow` on per-group slices.  Every sketch produced
        by one factory must route identically (same params)."""
        return None

    def update_slice(self, ctx, lo: int, hi: int) -> None:
        """Absorb rows ``[lo, hi)`` of a :meth:`batch_context` batch."""
        raise NotImplementedError

    def finalize_merge(self) -> None:
        """Normalize state after a distributed merge so the final bytes do not
        depend on the partition count (e.g. Bloom re-estimates its count field
        exactly as ``union_merge`` does, ``poppy/src/bloom/v1.rs:411-426``).
        Default: no-op."""


#: ``int_keys`` (``Sketch.int_keys``, the Spark verbs' argument) ->
#: hashkern.pack_arrow int_mode.  In "string" mode the Spark layer already
#: cast keys to text, so an integer column reaching the pack path means the
#: caller bypassed canonicalization or build/probe modes diverged — fail
#: loudly rather than hash bytes the build side never saw.
_INT_MODE = {"string": "raise", "le8": "le8", "typed": "typed"}


def arrow_to_text_batch(arr, int_keys: str = "string") -> tuple[np.ndarray, np.ndarray]:
    """Arrow string/binary column -> (packed byte matrix, lengths)."""
    from poppy_spark.core.hashkern import pack_arrow

    return pack_arrow(arr, int_mode=_INT_MODE[int_keys])


def arrow_to_hashes(arr, seed: int) -> np.ndarray:
    """Arrow column -> uint64 hash values.

    Integer columns are treated as *pre-hashed* (the JVM computed xxhash64
    before shipping — 8 bytes/row across the JVM/Python boundary instead of
    the raw text); anything else goes through the batch wyhash kernel.
    """
    import pyarrow as pa

    from poppy_spark.core.hashkern import pack_arrow, wyhash_batch

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_integer(arr.type):
        vals = arr.cast(pa.int64()).to_numpy(zero_copy_only=False)
        return vals.astype(np.int64).view(np.uint64)
    mat, lens = pack_arrow(arr)
    return wyhash_batch(mat, lens, seed)


def arrow_to_f64(arr) -> np.ndarray:
    """Arrow numeric column -> float64 numpy array with nulls dropped."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        arr = arr.drop_null()
    return arr.cast(pa.float64()).to_numpy(zero_copy_only=False)
