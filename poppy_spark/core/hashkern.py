"""Vectorized (numpy) batch kernels for the poppy hash pipeline.

Everything here operates on *batches* of keys — a zero-padded byte matrix plus
a length vector — so the Arrow -> numpy path inside Spark UDFs never executes
per-row Python.  Scalar oracles live in :mod:`poppy_spark.core.hashes`; the
property tests assert batch == scalar on random inputs.

Semantics references (behavior, not code):
  * FNV-1 fold: ``poppy/src/hash/fnv.rs:28-54``
  * wyhash pipeline: ``poppy/src/hash/wyhash.rs`` + crate wyhash 0.5.0
  * <=8-byte identity shortcut: ``poppy/src/hash.rs:52-63``
  * v1 fingerprint chain (128-bit mulmod): ``poppy/src/bloom/v1.rs:21-66``
  * v2 double hashing + xorshift* bucket hash: ``poppy/src/bloom/v2.rs:19-121``
"""

from __future__ import annotations

import numpy as np

from .hashes import (
    FNV_OFFSET,
    FNV_PRIME,
    POPPY_SEED,
    V1_G,
    V1_M,
    WYHASH_P0,
    WYHASH_P1,
    WYHASH_P2,
    WYHASH_P3,
    WYHASH_P4,
    WYHASH_P5,
)

U64 = np.uint64
U8 = np.uint8
_LO32 = U64(0xFFFFFFFF)
_32 = U64(32)


def pack_arrow(arr, int_mode: str = "le8") -> tuple[np.ndarray, np.ndarray]:
    """Pack a pyarrow String/Binary/LargeString array into the (matrix, lens)
    batch layout with no per-row Python.

    Reads the Arrow offsets+data buffers directly; nulls become empty keys
    (callers should filter nulls upstream when that matters).

    ``int_mode`` controls integer columns (the Spark layer's ``int_keys``
    maps onto it): ``"le8"`` packs fixed 8-byte LE slices (Rust
    ``insert_bytes(&k.to_le_bytes())``); ``"typed"`` pre-hashes each value
    through wyhash of its 8 LE bytes, matching Rust's typed-key blanket impl
    ``insert(&k)`` (``poppy/src/hash.rs:43-50`` streams the native-endian
    bytes through the full WyHasher — the <=8-byte identity shortcut applies
    only to the ``&[u8]`` path); ``"raise"`` rejects integer input — used by
    probe UDFs whose build side canonicalized keys to strings, so a
    build/probe key-mode mismatch fails loudly instead of silently returning
    all-False membership.
    """
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    typ = arr.type
    if pa.types.is_large_string(typ) or pa.types.is_large_binary(typ):
        odt = np.int64
    elif pa.types.is_string(typ) or pa.types.is_binary(typ):
        odt = np.int32
    elif pa.types.is_integer(typ):
        if int_mode == "raise":
            raise TypeError(
                "integer key column reached a string-mode hash path: the "
                "filter was built with int_keys='string' (decimal text) — "
                "cast the probe column to string, or build AND probe with "
                "int_keys='le8'/'typed' for Rust-compatible integer hashing"
            )
        vals = arr.cast(pa.int64()).to_numpy(zero_copy_only=False)
        if int_mode == "typed":
            return pack_int64_typed(vals)
        return pack_int64_le(vals)
    else:  # fall back for anything exotic
        return pack_keys(arr.to_pylist())
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=odt, count=len(arr) + 1 + arr.offset)
    offsets = offsets[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=U8) if bufs[2] is not None else np.zeros(0, U8)
    lens = np.diff(offsets)
    if arr.null_count:
        valid = ~np.asarray(arr.is_null())
        lens = np.where(valid, lens, 0)
    n = len(arr)
    if n == 0:
        return np.zeros((0, 40), dtype=U8), lens
    maxlen = int(lens.max())
    width = ((maxlen + 7) // 8) * 8 + 40
    mat = np.zeros((n, width), dtype=U8)
    total = int(lens.sum())
    if total > 0:
        starts = offsets[:-1]
        seg_contiguous = bool((offsets[1:] - starts == lens).all())
        if lens.min() == maxlen and seg_contiguous:
            # uniform-length fast path (ids, hashes, fixed-width keys):
            # the scatter is a plain reshape copy
            mat[:, :maxlen] = data[starts[0] : starts[0] + total].reshape(n, maxlen)
            return mat, lens
        # O(total_bytes) scatter: destination position of every source byte.
        # (At the 16k Arrow batch size np.repeat over the length vector is
        # cheaper than any cumsum/bincount reformulation — measured both.)
        row_ids = np.repeat(np.arange(n, dtype=np.int64), lens)
        cum = np.concatenate([[0], np.cumsum(lens[:-1])])
        intra = np.arange(total, dtype=np.int64) - np.repeat(cum, lens)
        if seg_contiguous:
            src = data[starts[0] : starts[0] + total]
        else:  # nulls / slicing left gaps — gather explicitly
            src = data[np.repeat(starts, lens) + intra]
        mat.reshape(-1)[row_ids * width + intra] = src
    return mat, lens


def pack_int64_le(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Pack 64-bit integers as fixed 8-byte little-endian *byte slices*.

    Matches Rust ``filter.insert_bytes(&k.to_le_bytes())`` — the ``&[u8]``
    impl's <=8-byte identity shortcut (``poppy/src/hash.rs:52-63``) then
    makes v2's ``hash_pop == the u64 value``, and v1 runs FNV-1 over the 8
    LE bytes.  NOTE: this is NOT the typed-key blanket impl — Rust
    ``insert(&k)`` for u64/i64 streams the bytes through the full WyHasher
    (``poppy/src/bloom/v2.rs:77-84``); use :func:`pack_int64_typed` for
    that.  Both are byte-compatible with their respective Rust surface;
    neither matches the default Spark-layer cast-to-string canonicalization.
    """
    vals = np.asarray(vals)
    n = vals.shape[0]
    lens = np.full(n, 8, dtype=np.int64)
    mat = np.zeros((n, 48), dtype=U8)  # 8 key bytes + 40 guard
    if n:
        mat[:, :8] = vals.astype("<i8").view(U8).reshape(n, 8)
    return mat, lens


def wyhash_u64le_batch(vals: np.ndarray) -> np.ndarray:
    """wyhash of the 8 little-endian bytes of each 64-bit value.

    This is what Rust's typed-key path computes for a ``u64``/``i64``:
    ``PoppyHash::hash_pop`` -> ``Hash for u64`` -> ``Hasher::write_u64``
    (default impl: one ``write`` of the native-endian bytes, LE on every
    poppy target) -> the crate's streaming hasher, which for a single write
    equals the one-shot wyhash — the path poppy's own golden vector
    exercises (``poppy/src/hash/wyhash.rs:40-48``).  The 8-byte input takes
    exactly the golden-anchored <=8 tail arm: ``mum(seed^P0, k^P1)`` then
    ``mum(., 8^P5)`` (little-endian u64 read of the LE bytes == the value).
    """
    p0, p1, p5 = U64(WYHASH_P0), U64(WYHASH_P1), U64(WYHASH_P5)
    v = np.asarray(vals).astype(np.int64).view(U64)
    h = mum(np.broadcast_to(U64(POPPY_SEED) ^ p0, v.shape).copy(), v ^ p1)
    return mum(h, U64(8) ^ p5)


def pack_int64_typed(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Pack 64-bit integers with Rust *typed-key* semantics (``insert(&k)``).

    Because poppy v2's ``h1`` is the LE-identity on any <=8-byte key, the
    typed path reduces to a pure key transform: map ``k -> wyhash(le8(k))``
    and pack THAT u64 as an 8-byte LE slice — every downstream stage (double
    hashing, bucket routing, sharding, wire format) is then automatically
    byte-compatible with a Rust filter built via typed ``insert``.  v2 only:
    the reference exposes no typed insert for v1 (``poppy/src/bloom/v1.rs``
    has only ``insert_bytes``).
    """
    return pack_int64_le(wyhash_u64le_batch(vals).view(np.int64))


def pack_keys(keys) -> tuple[np.ndarray, np.ndarray]:
    """Pack an iterable of ``bytes`` (or str, utf-8 encoded) into a
    zero-padded uint8 matrix plus a length vector.

    The matrix width is padded to a multiple of 8 plus 32 guard bytes so the
    wyhash kernels can read full words/blocks past short tails safely.
    """
    bufs = []
    for k in keys:
        if isinstance(k, str):
            bufs.append(k.encode("utf-8"))
        elif isinstance(k, (bytes, bytearray, memoryview)):
            bufs.append(bytes(k))
        elif isinstance(k, (int, np.integer)) and not isinstance(k, bool):
            # poppy typed-key semantics: ints hash as their LE bytes
            # (hash.rs:44-50); i64 range enforced like the Rust impl
            bufs.append(int(k).to_bytes(8, "little", signed=int(k) < 0))
        else:
            raise TypeError(
                f"sketch keys must be str/bytes/int, got {type(k).__name__}"
            )
    n = len(bufs)
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n)
    if n == 0:
        return np.zeros((0, 40), dtype=U8), lens
    maxlen = int(lens.max()) if n else 0
    width = ((maxlen + 7) // 8) * 8 + 40  # guard for 32B tail gather + 8B word
    mat = np.zeros((n, width), dtype=U8)
    if lens.sum() > 0:
        flat = np.frombuffer(b"".join(bufs), dtype=U8)
        mask = np.arange(width)[None, :] < lens[:, None]
        mat[mask] = flat
    return mat, lens


def _mul_hi(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """High 64 bits of a 64x64 product, via 32-bit limbs (all uint64)."""
    a_lo = a & _LO32
    a_hi = a >> _32
    b_lo = b & _LO32
    b_hi = b >> _32
    t = a_lo * b_lo
    w = a_hi * b_lo + (t >> _32)
    u = a_lo * b_hi + (w & _LO32)
    return a_hi * b_hi + (w >> _32) + (u >> _32)


def mum(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """wyhash's mum: lo ^ hi of the 128-bit product."""
    a = a.astype(U64, copy=False)
    b = b.astype(U64, copy=False)
    return (a * b) ^ _mul_hi(a, b)


def fnv1_batch(mat: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Batch FNV-1: byte-position-major fold across the whole batch."""
    n = mat.shape[0]
    h = np.full(n, FNV_OFFSET, dtype=U64)
    if n == 0:
        return h
    maxlen = int(lens.max()) if n else 0
    prime = U64(FNV_PRIME)
    if int(lens.min()) == maxlen:
        # uniform-length batch (le8-packed ints, fixed-width ids): no
        # masking — every row folds every position
        for pos in range(maxlen):
            h = (h * prime) ^ mat[:, pos].astype(U64)
        return h
    for pos in range(maxlen):
        m = lens > pos
        if not m.any():
            break
        h[m] = (h[m] * prime) ^ mat[m, pos].astype(U64)
    return h


def _read_rest_words(w: np.ndarray, t: np.ndarray) -> np.ndarray:
    """Vectorized exact-length composed read from the little-endian u64 word
    ``w`` holding the 8 bytes at the read position; ``t`` is the per-row
    remaining length in 1..=8 (t == 0 rows are dead — their value is never
    consumed by any tail arm).

    Rows are compacted by ``t`` so each row computes exactly its own arm
    (the previous ``np.select`` formulation materialized all 8 arms for
    every row — ~5x the work on the common uniform-length batch)."""
    out = np.zeros_like(w, dtype=U64)
    if w.size == 0:
        return out
    lo, hi = int(t.min()), int(t.max())
    groups: list[tuple[int, np.ndarray | slice]]
    if lo == hi:
        groups = [(lo, slice(None))]
    else:
        groups = [(tv, np.flatnonzero(t == tv)) for tv in range(max(lo, 1), hi + 1)]
    for tv, s in groups:
        if tv <= 0 or (not isinstance(s, slice) and s.size == 0):
            continue
        ww = w[s]
        if tv == 1:
            v = ww & U64(0xFF)
        elif tv == 2:
            v = ww & U64(0xFFFF)
        elif tv == 3:
            v = ((ww & U64(0xFFFF)) << U64(8)) | ((ww >> U64(16)) & U64(0xFF))
        elif tv == 4:
            v = ww & U64(0xFFFFFFFF)
        elif tv == 5:
            v = ((ww & U64(0xFFFFFFFF)) << U64(8)) | ((ww >> U64(32)) & U64(0xFF))
        elif tv == 6:
            v = ((ww & U64(0xFFFFFFFF)) << U64(16)) | ((ww >> U64(32)) & U64(0xFFFF))
        elif tv == 7:
            v = (
                ((ww & U64(0xFFFFFFFF)) << U64(24))
                | (((ww >> U64(32)) & U64(0xFFFF)) << U64(8))
                | ((ww >> U64(48)) & U64(0xFF))
            )
        else:
            v = ww
        out[s] = v
    return out


def wyhash_batch(mat: np.ndarray, lens: np.ndarray, seed: int = POPPY_SEED) -> np.ndarray:
    """Batch wyhash (same algorithm as :func:`poppy_spark.core.hashes.wyhash`).

    Rows are processed longest-first so every 32-byte-chunk iteration works
    on a contiguous PREFIX slice instead of a boolean-masked gather — the
    masked variant spends most of its time copying ever-smaller fancy-indexed
    subsets.
    """
    n = mat.shape[0]
    if n == 0:
        return np.full(0, seed, dtype=U64)
    maxchunks = int(lens.max()) // 32
    if maxchunks >= 1 and n > 64:
        order = np.argsort(-lens, kind="stable")
        inv = np.empty(n, dtype=np.int64)
        inv[order] = np.arange(n)
        out = _wyhash_sorted(
            np.ascontiguousarray(mat[order]), lens[order], seed, maxchunks
        )
        return out[inv]
    return _wyhash_sorted(mat, lens, seed, maxchunks, sorted_by_len=False)


def _wyhash_sorted(
    mat: np.ndarray,
    lens: np.ndarray,
    seed: int,
    maxchunks: int,
    sorted_by_len: bool = True,
) -> np.ndarray:
    n = mat.shape[0]
    h = np.full(n, seed, dtype=U64)
    p0, p1, p2, p3, p4, p5 = (U64(x) for x in (WYHASH_P0, WYHASH_P1, WYHASH_P2, WYHASH_P3, WYHASH_P4, WYHASH_P5))
    # 8-aligned word view for the fixed-offset 32-byte chunk loop
    words = mat[:, : (mat.shape[1] // 8) * 8].view("<u8")
    for c in range(maxchunks):
        need = (c + 1) * 32
        if sorted_by_len:
            # rows are longest-first: the active set is the prefix [0:k)
            k = int(np.searchsorted(-lens, -need, side="right"))
            if k == 0:
                break
            w = words[:k]
            h[:k] = mum(
                h[:k] ^ p0,
                mum(w[:, 4 * c] ^ p1, w[:, 4 * c + 1] ^ p2)
                ^ mum(w[:, 4 * c + 2] ^ p3, w[:, 4 * c + 3] ^ p4),
            )
        else:
            m = lens >= need
            if not m.any():
                break
            w = words[m]
            h[m] = mum(
                h[m] ^ p0,
                mum(w[:, 4 * c] ^ p1, w[:, 4 * c + 1] ^ p2)
                ^ mum(w[:, 4 * c + 2] ^ p3, w[:, 4 * c + 3] ^ p4),
            )
    # tail: rest_len in 0..=31 at per-row offset 32*(len//32)
    rest_len = (lens % 32).astype(np.int64)
    rest_off = lens - rest_len
    if maxchunks == 0:
        # every row is < 32 bytes: the tail IS the row prefix (rest_off is
        # all-zero), so the 4 tail words are one contiguous copy of the
        # zero-padded matrix prefix — no gather at all (pack_* guarantees
        # width >= 40, zero-filled past each row's length)
        g64 = np.ascontiguousarray(mat[:, :32]).view("<u8")
    elif sorted_by_len:
        # longest-first rows group CONTIGUOUSLY by chunk count, so the
        # (n, 32) tail read is a handful of plain slice copies instead of a
        # take_along_axis gather (which was ~1/3 of the whole hash)
        g = np.empty((n, 32), dtype=U8)
        for nc in range(maxchunks + 1):
            a = int(np.searchsorted(-lens, -(32 * (nc + 1)), side="right"))
            b = int(np.searchsorted(-lens, -(32 * nc), side="right"))
            if a < b:
                g[a:b] = mat[a:b, 32 * nc : 32 * nc + 32]
        g64 = g.view("<u8")
    else:
        idx = rest_off[:, None] + np.arange(32, dtype=np.int64)[None, :]
        g = np.take_along_axis(mat, idx, axis=1)  # (n, 32) bytes, zero padded
        g64 = np.ascontiguousarray(g).view("<u8")  # 4 aligned words of the tail

    r = rest_len
    any_tail = bool((r > 0).any())
    if any_tail:
        # read_rest bytes start at rest_off + 8*((r-1)//8): always 8-aligned
        # within the tail, i.e. exactly ONE of the 4 tail words — select it
        # with a (n, 1) word gather instead of an (n, 8) byte gather
        sub = np.where(r > 0, ((r - 1) // 8) * 8, 0)
        wsel = np.take_along_axis(g64, (sub >> 3)[:, None], axis=1)[:, 0]
        rr = _read_rest_words(wsel, np.maximum(r - sub, 0))
        w0, w1, w2 = g64[:, 0], g64[:, 1], g64[:, 2]
        # each row belongs to exactly one arm: compact to the arm's row set
        # and run the mum chain on the subset (the masked formulation paid
        # for every arm's full-width chain on every row — ~4x the tail work)
        s1 = np.flatnonzero((r >= 1) & (r <= 8))
        s2 = np.flatnonzero((r >= 9) & (r <= 16))
        s3 = np.flatnonzero((r >= 17) & (r <= 24))
        s4 = np.flatnonzero(r >= 25)
        if s1.size:
            h[s1] = mum(h[s1] ^ p0, rr[s1] ^ p1)
        if s2.size:
            h[s2] = mum(h[s2] ^ p0, mum(w0[s2] ^ p1, rr[s2] ^ p2))
        if s3.size:
            h[s3] = mum(
                h[s3] ^ p0,
                mum(w0[s3] ^ p1, w1[s3] ^ p2)
                ^ mum(rr[s3] ^ p3, np.full(s3.size, p4, dtype=U64)),
            )
        if s4.size:
            h[s4] = mum(
                h[s4] ^ p0,
                mum(w0[s4] ^ p1, w1[s4] ^ p2) ^ mum(w2[s4] ^ p3, rr[s4] ^ p4),
            )
    return mum(h, lens.astype(U64) ^ p5)


def hash_pop_batch(mat: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """poppy typed-key hash for a batch: LE identity for <=8 bytes, wyhash else
    (``poppy/src/hash.rs:52-63``).  wyhash is only evaluated on the long-key
    subset — short-key-heavy batches (numeric ids, roles) cost one u64 view."""
    short = lens <= 8
    out = np.empty(mat.shape[0], dtype=U64)
    if short.any():
        out[short] = np.ascontiguousarray(mat[short, :8]).view("<u8").reshape(-1)
    long = ~short
    if long.any():
        out[long] = wyhash_batch(np.ascontiguousarray(mat[long]), lens[long], POPPY_SEED)
    return out


def wyhash_u64be_batch(vals: np.ndarray) -> np.ndarray:
    """wyhash of the 8 big-endian bytes of each u64 (h2 derivation,
    ``poppy/src/bloom/v2.rs:106``).  read_rest(8 bytes of BE repr) ==
    byteswap(value)."""
    p0, p1, p5 = U64(WYHASH_P0), U64(WYHASH_P1), U64(WYHASH_P5)
    seed = U64(POPPY_SEED)
    h = mum(np.broadcast_to(seed ^ p0, vals.shape).copy(), vals.astype(U64).byteswap() ^ p1)
    return mum(h, U64(8) ^ p5)


def xorshift_star_batch(seed: np.ndarray) -> np.ndarray:
    s = seed.astype(U64, copy=True)
    s ^= s << U64(12)
    s ^= s >> U64(25)
    s ^= s << U64(27)
    return s * U64(2685821657736338717)


def v2_index_batch(h1: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(bucket_hash, (n, k) bit indexes in [0, 32768)) — v2 double hashing.

    The index matrix is uint16 (in-bucket ids are < 32768 by construction):
    a quarter of the u64 formulation's write traffic, and the downstream
    statekern/sharded consumers promote to u32/u64 on use anyway."""
    n = h1.shape[0]
    mask = U64(32767)
    idx = np.empty((n, k), dtype=np.uint16)
    h = h1.astype(U64, copy=True)
    bucket_hash = xorshift_star_batch(h)
    idx[:, 0] = h & mask
    if k > 1:
        h2 = wyhash_u64be_batch(h1)
        for i in range(1, k):
            h = h + h2
            h2 = h2 + U64(i)
            idx[:, i] = h & mask
    return bucket_hash, idx


# --- v1 fingerprint chain ------------------------------------------------------
_M1 = U64(V1_M)
_G1 = U64(V1_G)


def v1_index_batch(fnv: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n, k) v1 bit indexes: h = fnv % M; repeat h = wrap64(h*G) % M;
    idx = h % m.  The multiply wraps at 64 bits before the modulo, matching
    ``poppy/src/bloom/v1.rs:61`` (``wrapping_mul`` then ``% M``)."""
    n = fnv.shape[0]
    h = fnv.astype(U64, copy=False) % _M1
    m = U64(m_bits)
    idx = np.empty((n, k), dtype=U64)
    for i in range(k):
        h = (h * _G1) % _M1
        idx[:, i] = h % m
    return idx
