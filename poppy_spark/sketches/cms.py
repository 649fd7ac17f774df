"""Count-min sketch (Cormode & Muthukrishnan 2005) for frequency queries.

State: d x w uint64 counter matrix.  Update adds 1 to one counter per row
(Kirsch–Mitzenmacher double hashing, like poppy v2's index chain,
``poppy/src/bloom/v2.rs:96-120``).  Merge: elementwise add (commutative,
associative).  Guarantee: ``true <= est <= true + eps*N`` with probability
``1 - delta`` where ``eps = e/w`` and ``delta = e^-d``.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from poppy_spark.core.hashkern import wyhash_batch

from .base import Sketch, arrow_to_text_batch

CMS_SEED_A = 0x636D735F61616161  # b"cms_aaaa" BE
CMS_SEED_B = 0x636D735F62626262

_MAGIC = b"PSCMS\x01"


class CmsSketch(Sketch):
    kind = "cms"

    def __init__(self, w: int = 65536, d: int = 5, table: np.ndarray | None = None):
        self.w = w
        self.d = d
        self.table = table if table is not None else np.zeros((d, w), dtype=np.uint64)

    @classmethod
    def from_error(cls, eps: float, delta: float) -> "CmsSketch":
        return cls(w=math.ceil(math.e / eps), d=math.ceil(math.log(1.0 / delta)))

    @classmethod
    def factory(cls, w: int = 65536, d: int = 5):
        def make() -> "CmsSketch":
            return cls(w, d)

        return make

    # --- hashing ---------------------------------------------------------------
    def _cols(self, mat, lens) -> np.ndarray:
        """(n, d) column indexes via double hashing."""
        h1 = wyhash_batch(mat, lens, CMS_SEED_A)
        h2 = wyhash_batch(mat, lens, CMS_SEED_B)
        i = np.arange(self.d, dtype=np.uint64)[None, :]
        return ((h1[:, None] + i * h2[:, None]) % np.uint64(self.w)).astype(np.int64)

    # --- updates ------------------------------------------------------------------
    def update_arrow(self, arr) -> None:
        mat, lens = arrow_to_text_batch(arr)
        self._update_packed(mat, lens)

    def update_keys(self, keys) -> None:
        from poppy_spark.core.hashkern import pack_keys

        self._update_packed(*pack_keys(keys))

    def _update_packed(self, mat, lens) -> None:
        if mat.shape[0] == 0:
            return
        cols = self._cols(mat, lens)
        # np.bincount is a single C histogram pass — several times faster than
        # np.add.at's scalar scatter at Arrow-batch sizes (w adds of the dense
        # count vector are trivial next to the per-row scatter it replaces)
        for r in range(self.d):
            self.table[r] += np.bincount(cols[:, r], minlength=self.w).astype(np.uint64)

    # --- queries --------------------------------------------------------------------
    def query_keys(self, keys) -> np.ndarray:
        from poppy_spark.core.hashkern import pack_keys

        mat, lens = pack_keys(keys)
        return self.query_packed(mat, lens)

    def query_arrow(self, arr) -> np.ndarray:
        mat, lens = arrow_to_text_batch(arr)
        return self.query_packed(mat, lens)

    def query_packed(self, mat, lens) -> np.ndarray:
        if mat.shape[0] == 0:
            return np.zeros(0, dtype=np.int64)
        cols = self._cols(mat, lens)
        ests = np.stack(
            [self.table[r][cols[:, r]] for r in range(self.d)], axis=1
        )
        return ests.min(axis=1).astype(np.int64)

    # --- algebra ----------------------------------------------------------------------
    def merge(self, other: "CmsSketch") -> None:
        if (self.w, self.d) != (other.w, other.d):
            raise ValueError("cannot merge CMS sketches with different shapes")
        self.table += other.table

    def total(self) -> int:
        """N = total updates (row sums are all equal to N)."""
        return int(self.table[0].sum())

    @property
    def eps(self) -> float:
        return math.e / self.w

    @property
    def delta(self) -> float:
        return math.exp(-self.d)

    def result(self) -> int:
        return self.total()

    def memory_bound_bytes(self) -> int:
        """The fixed ``d x w`` uint64 table, from its parameters."""
        return 8 * self.w * self.d

    # --- serialization -----------------------------------------------------------------
    def dumps(self) -> bytes:
        return _MAGIC + struct.pack("<II", self.w, self.d) + self.table.tobytes()

    @classmethod
    def loads(cls, raw: bytes) -> "CmsSketch":
        if raw[: len(_MAGIC)] != _MAGIC:
            raise ValueError("not a poppy_spark CMS state")
        w, d = struct.unpack_from("<II", raw, len(_MAGIC))
        tbl = np.frombuffer(raw[len(_MAGIC) + 8 :], dtype=np.uint64).copy()
        if tbl.size != w * d:
            raise ValueError("truncated CMS state")
        return cls(w, d, tbl.reshape(d, w))
