"""Reference-parity tests for the core Bloom filters (no Spark).

Ports the reference's inline test modules: unit scenarios from
``poppy/src/bloom/v1.rs:472-636`` and ``v2.rs:702-1060``, the DCSO golden
file decode (``v1.rs:523-538``), and the seeded empirical-FPR sweep
(``v2.rs:839-912``, tolerance 0.2 over synthetic keys).
"""

import math
import os
import random

import numpy as np
import pytest

from poppy_spark.core import (
    BloomFilter,
    MergeError,
    OptLevel,
    Params,
    TooManyEntries,
    bit_size,
    cap_from_bit_size,
    estimate_p,
    k,
    loads,
)

GOLDEN_BLOOM = "/root/reference/poppy/src/data/test.bloom"


class TestSizingMath:
    def test_bit_size(self):
        # m = |ceil(n ln p / ln^2 2)|  (utils.rs:7-11)
        assert bit_size(10000, 0.01) == 95851 or bit_size(10000, 0.01) == 95850
        # exact expectation pinned from the golden file header: m=95850
        assert bit_size(10000, 0.01) == 95850

    def test_k(self):
        assert k(95850, 10000) == 7

    def test_estimate_p_roundtrip(self):
        m = bit_size(100000, 0.001)
        assert estimate_p(100000, m) == pytest.approx(0.001, rel=0.2)

    def test_cap_from_bit_size(self):
        c = cap_from_bit_size(32768, 0.001)
        # bucket capacity used by v2 sizing (v2.rs:287)
        assert 0 < c < 32768
        assert cap_from_bit_size(bit_size(5000, 0.01), 0.01) == pytest.approx(5000, abs=2)


class TestGoldenFile:
    @pytest.mark.skipif(not os.path.exists(GOLDEN_BLOOM), reason="reference not mounted")
    def test_dcso_golden_decode(self):
        with open(GOLDEN_BLOOM, "rb") as f:
            raw = f.read()
        b = loads(raw)
        pb = BloomFilter.with_version(1, 10000, 0.01)
        assert pb.has_same_params(b)
        assert b.contains_bytes("hello")
        assert b.contains_bytes("world")
        assert not b.contains_bytes("hello world")
        assert not b.contains_bytes("this")
        assert not b.contains_bytes("that")

    @pytest.mark.skipif(not os.path.exists(GOLDEN_BLOOM), reason="reference not mounted")
    def test_dcso_golden_roundtrip_byte_identical(self):
        with open(GOLDEN_BLOOM, "rb") as f:
            raw = f.read()
        assert loads(raw).dumps() == raw


@pytest.mark.parametrize("version", [1, 2])
class TestScenarios:
    def test_insert_contains(self, version):
        b = BloomFilter.with_version(version, 100000, 0.001)
        assert not b.contains_bytes("value")
        assert b.insert_bytes("value") is True
        assert b.contains_bytes("value")
        assert b.count_estimate == 1
        assert not b.contains_bytes("unknown")
        # duplicate insert is not new
        assert b.insert_bytes("value") is False
        assert b.count_estimate == 1

    def test_union_exact_small_count(self, version):
        b = BloomFilter.with_version(version, 1000, 0.0001)
        b.fill(["hello", "world"])
        o = BloomFilter.with_version(version, 1000, 0.0001)
        o.fill(["union", "test"])
        b.union_merge(o)
        for v in ["hello", "world", "union", "test"]:
            assert b.contains_bytes(v)
        assert b.count_estimate == 4

    def test_union_param_mismatch(self, version):
        b = BloomFilter.with_version(version, 1000, 0.0001)
        o = BloomFilter.with_version(version, 100, 0.0001)
        with pytest.raises(MergeError):
            b.union_merge(o)

    def test_clear(self, version):
        b = BloomFilter.with_version(version, 1000, 0.0001)
        b.fill(["hello", "world"])
        assert b.count_estimate == 2
        b.clear()
        assert not b.contains_bytes("hello")
        assert b.count_estimate == 0

    def test_too_many_entries(self, version):
        b = BloomFilter.with_version(version, 5, 0.0001)
        b.fill(["hello", "world", "toasting", "bloom", "filter"])
        assert b.count_estimate == 5
        with pytest.raises(TooManyEntries):
            b.insert_bytes("everything should explode, OMG !")

    def test_contains_on_empty(self, version):
        b = BloomFilter.with_version(version, 0, 0.001)
        assert not b.contains_bytes("42")

    def test_serialization_roundtrip_with_data(self, version):
        b = BloomFilter.with_version(version, 1000, 0.0001)
        b.fill(["deserialization", "test"])
        b.data = bytes(range(256))
        raw = b.dumps()
        n = loads(raw)
        assert n.fpp == 0.0001
        assert n.contains_bytes("deserialization")
        assert n.contains_bytes("test")
        assert not n.contains_bytes("hello")
        assert n.data == bytes(range(256))
        assert n.dumps() == raw

    def test_partial_deserialization(self, version):
        b = BloomFilter.with_version(version, 1000, 0.0001)
        b.fill(["hello", "world"])
        b.data = bytes(range(100))
        p = loads(b.dumps(), partial=True)
        assert p.capacity == 1000
        assert p.fpp == 0.0001
        assert p.count_estimate == 2
        assert p.data == bytes(range(100))
        assert p.size_in_bytes() == b.size_in_bytes()

    def test_batch_equals_sequential(self, version):
        """Batch insert must reproduce sequential insert exactly: same bits,
        same count, same per-key 'new' flags."""
        rng = random.Random(42)
        keys = [
            bytes(rng.randrange(256) for _ in range(rng.choice([2, 4, 8, 12, 20])))
            for _ in range(500)
        ]
        keys = keys + keys[:50]  # duplicates on purpose
        seq = BloomFilter.with_version(version, 1000, 0.001)
        seq_new = [seq.insert_bytes(key_) for key_ in keys]
        bat = BloomFilter.with_version(version, 1000, 0.001)
        bat_new = bat.insert_batch(keys)
        assert list(bat_new) == seq_new
        assert bat.count_estimate == seq.count_estimate
        assert bat.dumps() == seq.dumps()


class TestV2Specific:
    def test_is_full(self):
        b = BloomFilter.with_capacity(10, 0.001)
        assert not b.is_full()
        for i in range(10):
            b.insert_bytes(i.to_bytes(4, "little"))
        assert b.is_full()

    def test_intersection(self):
        b = BloomFilter.with_capacity(1000, 0.0001)
        b.fill(["hello", "world", "testing", "bloom", "filters"])
        o = BloomFilter.with_capacity(1000, 0.0001)
        o.fill(["hello", "from", "intersecting", "two", "filters"])
        assert b.count_common_entries(o) == 2
        b.intersection_merge(o)
        assert b.count_estimate == 2
        assert b.contains_bytes("hello")
        assert b.contains_bytes("filters")

    def test_opt_levels_roundtrip(self):
        for opt in (OptLevel.NONE, OptLevel.SPACE, OptLevel.SPEED, OptLevel.BEST):
            b = BloomFilter.from_params(Params(1000, 0.0001).with_opt(opt))
            b.fill(["hello", "world"])
            raw = b.dumps()
            assert raw[1] == int(opt)
            n = loads(raw)
            assert n.contains_bytes("hello") and n.contains_bytes("world")
            assert not n.contains_bytes("nope")
            assert n.dumps() == raw

    def test_short_key_identity_path_compat(self):
        # keys <= 8 bytes use the LE identity shortcut; ensure both paths work
        b = BloomFilter.with_capacity(10000, 0.001)
        b.fill(["hello", "some string", "some old string"])
        assert b.contains_bytes("hello")
        assert b.contains_bytes("some string")
        assert b.contains_bytes("some old string")
        assert not b.contains_bytes("unknown")


class TestMergeAlgebra:
    """Union must be associative and commutative at the byte level — the
    property that makes the Spark partial aggregation order-independent."""

    def _mk(self, keys):
        b = BloomFilter.with_capacity(2000, 0.001)
        b.fill(keys)
        return b

    def test_union_commutative_bytes(self):
        rng = random.Random(1)
        ka = [str(rng.random()) for _ in range(300)]
        kb = [str(rng.random()) for _ in range(300)]
        ab = self._mk(ka)
        ab.union_merge(self._mk(kb))
        ba = self._mk(kb)
        ba.union_merge(self._mk(ka))
        assert ab.dumps() == ba.dumps()

    def test_union_associative_bytes(self):
        rng = random.Random(2)
        parts = [[str(rng.random()) for _ in range(200)] for _ in range(3)]
        left = self._mk(parts[0])
        left.union_merge(self._mk(parts[1]))
        left.union_merge(self._mk(parts[2]))
        right_tail = self._mk(parts[1])
        right_tail.union_merge(self._mk(parts[2]))
        right = self._mk(parts[0])
        right.union_merge(right_tail)
        assert left.dumps() == right.dumps()

    def test_union_equals_single_build(self):
        """Union of partition filters == filter built from all keys, except the
        count field which is re-estimated after merge (v1.rs:411-426)."""
        rng = random.Random(3)
        parts = [[f"key-{rng.randrange(10**9)}" for _ in range(250)] for _ in range(4)]
        merged = self._mk(parts[0])
        for p in parts[1:]:
            merged.union_merge(self._mk(p))
        single = self._mk([k_ for p in parts for k_ in p])
        single.update_count()  # normalize the count field like a merge does
        assert merged.dumps() == single.dumps()


class TestEmpiricalFPR:
    """Seeded FPR sweep, the reference's acceptance gate: avg FPR over
    mutation bands must be < fpp * (1 + tol) (``v2.rs:839-912``,
    ``bin/poppy.rs:544-552``)."""

    @pytest.mark.parametrize(
        "dataset,tol",
        [
            ("u16", 0.2),
            ("u32", 0.2),
            ("words", 0.2),
        ],
    )
    def test_real_fpp(self, dataset, tol):
        rng = np.random.default_rng(42)
        if dataset == "u16":
            data = [int(u).to_bytes(2, "little") for u in range(65535)]
        elif dataset == "u32":
            data = [int(u).to_bytes(4, "little") for u in range(200000)]
        else:
            words = [f"word-{i:06d}-{i * 2654435761 % 997}" for i in range(50000)]
            data = [w.encode() for w in words]
        dataset_set = set(data)
        data = sorted(dataset_set)
        fpp = 0.001
        b = BloomFilter.with_capacity(len(data), fpp)
        b.insert_batch(data)
        # zero false negatives, always
        assert bool(b.contains_batch(data).all())

        fpps = []
        for mut_prob in range(0, 101, 20):
            mutated, is_mut = [], []
            flips = rng.integers(0, 101, size=len(data))
            for i, d in enumerate(data):
                if flips[i] < mut_prob:
                    xor = rng.integers(0, 256, size=len(d), dtype=np.uint8)
                    md = bytes(np.frombuffer(d, dtype=np.uint8) ^ xor)
                    mutated.append(md)
                    is_mut.append(True)
                else:
                    mutated.append(d)
                    is_mut.append(False)
            hits = b.contains_batch(mutated)
            fp = tn = 0
            tested = set()
            for i, (m, md) in enumerate(zip(is_mut, mutated)):
                if m and md not in dataset_set and md not in tested:
                    if hits[i]:
                        fp += 1
                    else:
                        tn += 1
                tested.add(md)
            if fp + tn:
                fpps.append(fp / (fp + tn))
        avg = sum(fpps) / len(fpps)
        assert avg < fpp * (1.0 + tol), f"real fpp {avg} vs expected {fpp}"

    def test_count_estimate_accuracy(self):
        data = [f"entry-{i}".encode() for i in range(50000)]
        b = BloomFilter.with_capacity(len(data), 0.001)
        b.insert_batch(data)
        b.update_count()
        assert b.count_estimate == pytest.approx(50000, rel=0.01)


class TestV1KnownDefect:
    def test_v1_power_of_two_bitsize_documented(self):
        """n=109397 @ fpp 0.01 gives a power-of-two bit size where v1's fpp
        degrades (``v1.rs:603-630``) — we keep behavior for compatibility and
        simply pin that the sizing really is a power of two."""
        m = bit_size(109397, 0.01)
        assert m & (m - 1) == 0


class TestSaturation:
    def test_count_estimate_saturated_filter(self):
        """A fully-set v1 bitset estimates u64::MAX (Rust `as u64` on +inf),
        not a math-domain crash (``poppy/src/bloom/v1.rs:330-334``)."""
        from poppy_spark.core.statekern import count_estimate_from_ones

        assert count_estimate_from_ones(64, 64, 2) == (1 << 64) - 1
        assert count_estimate_from_ones(64, 65, 2) == (1 << 64) - 1
        assert count_estimate_from_ones(64, 0, 2) == 0

    def test_v1_union_of_saturated_filters(self):
        from poppy_spark.core.v1 import BloomV1

        a = BloomV1.with_capacity(4, 0.5)
        for i in range(4):
            a.insert_bytes(f"k{i}".encode())
        a.words.fill((1 << 64) - 1)  # force saturation
        a.update_count()
        assert a.count_estimate() == (1 << 64) - 1


class TestFprKeyTypeMatrix:
    """Mirror of the reference's synthetic key-type FPR matrix
    (``poppy/src/bloom/v2.rs:839-1009``): random u8..u128-style widths and
    md5/sha1/sha256-like digests, empirical FPR within fpp*(1+0.2)."""

    FPP = 0.01
    TOL = 0.2
    N = 20000

    def _keys(self, kind):
        import hashlib

        import numpy as np

        rng = np.random.default_rng(42)
        if kind.startswith("u"):
            width = int(kind[1:]) // 8
            vals = rng.integers(0, 2**63 - 1, size=2 * self.N, dtype=np.int64)
            out = []
            seen = set()
            for v in vals:
                b = int(v).to_bytes(8, "little")[:width].ljust(width, b"\0") if width <= 8 else (
                    int(v).to_bytes(8, "little") + int(v ^ 0xDEADBEEF).to_bytes(8, "little")
                )
                if b not in seen:
                    seen.add(b)
                    out.append(b)
            return out[: 2 * self.N - 100]
        digest = {"md5": hashlib.md5, "sha1": hashlib.sha1, "sha256": hashlib.sha256}[kind]
        return [digest(f"key-{i}".encode()).digest() for i in range(2 * self.N)]

    @pytest.mark.parametrize("kind", ["u32", "u64", "u128", "md5", "sha1", "sha256"])
    def test_fpr_within_reference_tolerance(self, kind):
        keys = self._keys(kind)
        half = len(keys) // 2
        members, probes = keys[:half], keys[half:]
        b = BloomFilter.with_capacity(half, self.FPP)
        b.insert_batch(members)
        assert bool(b.contains_batch(members).all()), "zero FN violated"
        hits = b.contains_batch(probes)
        fpr = float(hits.sum()) / len(probes)
        assert fpr <= self.FPP * (1 + self.TOL), (kind, fpr)


class TestV1Deprecation:
    """v1 is DCSO-byte-compat only (reference deprecation, v1.rs:69-73:
    'its fpp is not guaranteed to be correct').  These tests pin the
    measured defect boundary documented in the README: the multiplicative
    index chain degenerates when the stored bit count m is a power of two."""

    def test_power_of_two_m_blows_fpp(self):
        import math

        from poppy_spark.core.params import k as k_fn
        from poppy_spark.core.v1 import BloomV1

        m = 1 << 16
        p = 0.001
        n = int(m * (math.log(2) ** 2) / math.log(1 / p))
        bf = BloomV1(n, p, k_fn(m, n), m)
        bf.insert_batch([f"member-key-{i:09d}".encode() for i in range(n)])
        probes = [f"absent-key-{i:09d}".encode() for i in range(100_000)]
        fpr = bf.contains_batch(probes).mean()
        # catastrophic, not marginal: >= 100x the requested bound
        assert fpr > 100 * p

    def test_own_sizing_never_power_of_two_and_holds_fpp(self):
        from poppy_spark.core import BloomFilter

        for cap, p in [(1139, 0.001), (4558, 0.001), (6837, 0.01)]:
            bf = BloomFilter.with_params(1, cap, p)
            m = bf._inner.bit_size
            assert m & (m - 1) != 0, f"sized m={m} is a power of two"
            bf.insert_batch([f"member-key-{i:09d}".encode() for i in range(cap)])
            probes = [f"absent-key-{i:09d}".encode() for i in range(100_000)]
            assert bf.contains_batch(probes).mean() <= p * 2.5


class TestU32U64BranchParity:
    """The batch kernels switch to uint64 bit-id math past U32_BYTES_LIMIT;
    force the u64 branch on a small filter and assert byte-identical states
    and identical membership/count against the default u32 branch."""

    def _run_all(self):
        from poppy_spark.core.v2 import BloomV2

        keys = [f"parity-key-{i:08d}" for i in range(5000)]
        dup = keys[:500]  # duplicates exercise first-occurrence newness
        b = BloomV2.with_capacity(6000, 0.001)
        b.insert_batch(keys)
        b.insert_batch(dup)
        b2 = BloomV2.with_capacity(6000, 0.001)
        b2.insert_batch(keys[:2500])
        bulk = BloomV2.with_capacity(6000, 0.001)
        from poppy_spark.core.hashkern import pack_keys

        mat, lens = pack_keys(keys)
        bulk.insert_packed_bulk(mat, lens)
        probes = keys[::7] + [f"absent-{i}" for i in range(1000)]
        return (
            b.dumps(),
            b.count,
            bulk.dumps(),
            list(b.contains_batch(probes)),
            b2.count_common_entries(b),
        )

    def test_u64_branch_matches_u32(self, monkeypatch):
        from poppy_spark.core import statekern

        base = self._run_all()
        monkeypatch.setattr(statekern, "U32_BYTES_LIMIT", 0)  # force u64 path
        forced = self._run_all()
        assert forced == base
