"""MinHash set-similarity sketch (Broder 1997).

State: ``n_perms`` u64 minima under independent universal hashes
``h_i(x) = (a_i * wyhash(x) + b_i) mod p`` (Mersenne prime ``2^61 - 1``),
coefficients drawn from a fixed seed so every partition agrees.  Merge:
elementwise min (commutative/associative).  ``jaccard(a, b)`` is estimated
by the fraction of matching signature slots; standard error
``~ 1/sqrt(n_perms)``.
"""

from __future__ import annotations

import struct

import numpy as np

from poppy_spark.core.hashkern import wyhash_batch

from .base import Sketch, arrow_to_hashes

MINHASH_SEED = 0x6D696E685F706F70  # b"minh_pop" BE
_P61 = np.uint64((1 << 61) - 1)
_MAGIC = b"PSMNH\x01"


def _coeffs(n_perms: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(1_000_003)
    a = rng.integers(1, int(_P61), size=n_perms, dtype=np.uint64)
    b = rng.integers(0, int(_P61), size=n_perms, dtype=np.uint64)
    return a, b


def perm_hashes(h: np.ndarray, n_perms: int) -> np.ndarray:
    """(n, n_perms) universal-hash values for base hashes ``h``."""
    a, b = _coeffs(n_perms)
    hm = (h % _P61).astype(np.uint64)
    # (a * h + b) mod p with 64-bit wrap is fine: we only need a consistent
    # deterministic mixing family, and min-stability only needs agreement
    out = (hm[:, None] * a[None, :] + b[None, :]) % _P61
    return out


class MinHashSketch(Sketch):
    kind = "minhash"
    #: signatures compare only against signatures built through the same
    #: pipeline, so JVM xxhash64 pre-hashing is sound here too
    prehash_jvm = True

    def __init__(self, n_perms: int = 128, sig: np.ndarray | None = None):
        self.n_perms = n_perms
        self.sig = (
            sig
            if sig is not None
            else np.full(n_perms, np.iinfo(np.uint64).max, dtype=np.uint64)
        )

    @classmethod
    def factory(cls, n_perms: int = 128):
        def make() -> "MinHashSketch":
            return cls(n_perms)

        return make

    def update_hashes(self, h: np.ndarray) -> None:
        if h.size == 0:
            return
        vals = perm_hashes(h, self.n_perms)
        np.minimum(self.sig, vals.min(axis=0), out=self.sig)

    def update_arrow(self, arr) -> None:
        self.update_hashes(arrow_to_hashes(arr, MINHASH_SEED))

    def update_keys(self, keys) -> None:
        from poppy_spark.core.hashkern import pack_keys

        mat, lens = pack_keys(keys)
        self.update_hashes(wyhash_batch(mat, lens, MINHASH_SEED))

    def merge(self, other: "MinHashSketch") -> None:
        if self.n_perms != other.n_perms:
            raise ValueError("cannot merge MinHash sketches of different width")
        np.minimum(self.sig, other.sig, out=self.sig)

    def jaccard(self, other: "MinHashSketch") -> float:
        return float((self.sig == other.sig).mean())

    def result(self) -> list[int]:
        return [int(x) for x in self.sig]

    def memory_bound_bytes(self) -> int:
        """The fixed ``n_perms`` uint64 signature, from its parameters."""
        return 8 * self.n_perms

    def dumps(self) -> bytes:
        return _MAGIC + struct.pack("<I", self.n_perms) + self.sig.tobytes()

    @classmethod
    def loads(cls, raw: bytes) -> "MinHashSketch":
        if raw[: len(_MAGIC)] != _MAGIC:
            raise ValueError("not a poppy_spark MinHash state")
        (n,) = struct.unpack_from("<I", raw, len(_MAGIC))
        sig = np.frombuffer(raw[len(_MAGIC) + 4 :], dtype=np.uint64).copy()
        return cls(n, sig)
