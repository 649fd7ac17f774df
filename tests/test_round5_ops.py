"""Round-5 regression tests: ANN query-side guards, grouped-sharded
save/load partition-type round-trip, mixed-media audio pass-through."""

import numpy as np
import pytest
from pyspark.sql import functions as F


class TestAnnQueryGuards:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).cache()

    def test_pq_topk_max_queries_raises_before_collect(self, emb):
        from poppy_spark.spark.similarity import (
            pq_encode,
            pq_topk,
            pq_train_codebooks,
        )

        books = pq_train_codebooks(emb, "vec_id", "embedding", 4, 16, iters=2)
        codes = pq_encode(emb, "vec_id", "embedding", books)
        q = emb.select(F.col("vec_id").alias("qid"), "embedding")
        with pytest.raises(ValueError, match="max_queries"):
            pq_topk(codes, q, "embedding", "qid", 5, books, max_queries=3)

    def test_ivfpq_topk_max_queries_raises(self, emb):
        from poppy_spark.spark.similarity import ivfpq_topk

        q = emb.select(F.col("vec_id").alias("qid"), "embedding")
        with pytest.raises(ValueError, match="max_queries"):
            ivfpq_topk(
                emb, q, "vec_id", "embedding", "qid", k=3,
                n_centroids=4, n_probe=2, m_subspaces=4, n_codes=16,
                max_queries=3,
            )

    def test_ivf_topk_shuffle_path_matches_broadcast(self, emb):
        """Above max_queries ivf_topk degrades to a shuffle equi-join —
        same rows as the broadcast path, no raise."""
        from poppy_spark.spark.similarity import ivf_topk

        q = emb.orderBy("vec_id").limit(8).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        kw = dict(k=5, n_centroids=8, n_probe=8, iters=2)
        bc = ivf_topk(emb, q, "vec_id", "embedding", "qid", **kw).collect()
        sh = ivf_topk(
            emb, q, "vec_id", "embedding", "qid", max_queries=2, **kw
        ).collect()
        key = lambda r: (r["query_id"], r["rank"])
        assert sorted((r["query_id"], r["rank"], r["id"]) for r in bc) == sorted(
            (r["query_id"], r["rank"], r["id"]) for r in sh
        )

    def test_pq_kmeans_matmul_identity_unchanged(self, emb):
        """The matmul-identity k-means (ADVICE r4) must produce codebooks
        equal to the definitional squared-distance iteration."""
        from poppy_spark.spark.similarity import pq_train_codebooks, with_normalized

        books = pq_train_codebooks(emb, "vec_id", "embedding", 4, 16, iters=3,
                                   sample_per_code=8)
        # reproduce driver-side with the naive broadcast form
        h = F.substring(
            F.md5(F.concat(F.lit("pq0|"), F.col("vec_id").cast("string"))), 1, 16
        )
        rows = (
            with_normalized(emb, "embedding")
            .select(F.col("vec_n"), h.alias("__h"))
            .orderBy("__h")
            .limit(16 * 8)
            .collect()
        )
        x = np.asarray([r["vec_n"] for r in rows], dtype=np.float64)
        dsub = x.shape[1] // 4
        for m in range(4):
            sub = x[:, m * dsub:(m + 1) * dsub]
            cents = sub[:16].copy()
            for _ in range(3):
                d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                assign = np.argmin(d2, axis=1)
                for c in range(16):
                    mem = sub[assign == c]
                    if mem.size:
                        cents[c] = mem.mean(axis=0)
            assert np.allclose(books[m], cents)


class TestGroupedBottomKTwoPhase:
    def test_hot_group_matches_bruteforce(self, spark):
        """Planted SEO-farm shape: one domain holds 95% of rows.  The
        two-phase plan must return exactly the brute-force bottom-k and
        stay layout-invariant."""
        import hashlib

        from poppy_spark.spark.sampling import grouped_bottom_k

        rows = [(i, "farm") for i in range(4000)]
        rows += [(100_000 + i, f"site{i % 40}") for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, dom string")
        out = grouped_bottom_k(df, "doc_id", "dom", 7, seed=5)
        got = {(r["dom"], r["doc_id"]) for r in out.collect()}
        bygroup = {}
        for i, g in rows:
            bygroup.setdefault(g, []).append(i)
        want = set()
        for g, ids in bygroup.items():
            ranked = sorted(
                ids,
                key=lambda i: (
                    hashlib.md5(f"seed5|{i}".encode()).hexdigest()[:8],
                    str(i),
                ),
            )
            want.update((g, i) for i in ranked[:7])
        assert got == want
        again = grouped_bottom_k(df.repartition(17), "doc_id", "dom", 7, seed=5)
        assert {(r["dom"], r["doc_id"]) for r in again.collect()} == want

    def test_duplicate_keys_sample_together(self, spark):
        """Key-based semantics: every row carrying a surviving key is kept
        (rows sharing a key sample together within a group too)."""
        from poppy_spark.spark.sampling import grouped_bottom_k

        rows = [(f"k{i % 10}", "g", i) for i in range(50)]  # 10 keys x 5 rows
        df = spark.createDataFrame(rows, "key string, grp string, payload long")
        out = grouped_bottom_k(df, "key", "grp", 3, seed=1).collect()
        keys = {r["key"] for r in out}
        assert len(keys) == 3
        assert len(out) == 15  # all 5 rows of each surviving key
        by_key = {}
        for r in out:
            by_key.setdefault(r["key"], set()).add(r["payload"])
        assert all(len(v) == 5 for v in by_key.values())

    def test_null_keys_excluded_null_group_kept(self, spark):
        from poppy_spark.spark.sampling import grouped_bottom_k

        rows = [("a", "g1"), (None, "g1"), ("b", None), ("c", None)]
        df = spark.createDataFrame(rows, "key string, grp string")
        out = grouped_bottom_k(df, "key", "grp", 5, seed=0).collect()
        got = {(r["key"], r["grp"]) for r in out}
        assert got == {("a", "g1"), ("b", None), ("c", None)}

    def test_no_single_task_window_in_plan(self, spark):
        """The plan must not contain a Window over the group column (the
        one-task-per-group funnel the two-phase shape removes)."""
        from poppy_spark.spark.sampling import grouped_bottom_k

        df = spark.createDataFrame([(1, "g")], "doc_id long, dom string")
        plan = grouped_bottom_k(df, "doc_id", "dom", 3)._jdf.queryExecution().toString()
        assert "Window" not in plan


class TestGroupedShardedPartitionTypes:
    def test_numeric_looking_string_groups_roundtrip(self, spark, tmp_path):
        """Partition-column type inference must not turn string groups that
        look numeric into ints on load (ADVICE r4): loaded filters must
        union/probe against freshly built states."""
        from poppy_spark.spark.sharded import (
            ShardedBloom,
            build_sharded_bloom_grouped,
        )

        rows = [(f"k{i}", g) for i in range(200) for g in ("0123", "77", "west")]
        df = spark.createDataFrame(rows, "key string, grp string")
        gsb = build_sharded_bloom_grouped(
            df, "key", "grp", capacity=1_000, fpp=0.001, n_shards=2
        )
        d = str(tmp_path / "gsb_types")
        gsb.save(d)
        back = ShardedBloom.load(spark, d)
        assert back.states.schema["grp"].dataType.simpleString() == "string"
        got = {r["grp"] for r in back.states.select("grp").distinct().collect()}
        assert got == {"0123", "77", "west"}  # leading zero preserved
        # probe parity vs the freshly built filter
        probed = back.contains(df.select("grp", "key"), "key")
        assert probed.filter(~F.col("hit")).count() == 0
        # and set algebra against the fresh build still works group-wise
        merged = back.union(gsb)
        assert merged.states.count() == gsb.states.count()

    def test_long_groups_restore_type(self, spark, tmp_path):
        from poppy_spark.spark.sharded import (
            ShardedBloom,
            build_sharded_bloom_grouped,
        )

        rows = [(f"k{i}", i % 3) for i in range(150)]
        df = spark.createDataFrame(rows, "key string, grp long")
        gsb = build_sharded_bloom_grouped(
            df, "key", "grp", capacity=1_000, fpp=0.001, n_shards=2
        )
        d = str(tmp_path / "gsb_long")
        gsb.save(d)
        back = ShardedBloom.load(spark, d)
        assert back.states.schema["grp"].dataType.simpleString() == "bigint"
        probed = back.contains(df.select("grp", "key"), "key")
        assert probed.filter(~F.col("hit")).count() == 0


class TestNormalizeText:
    CASES = [
        "étude",            # decomposed accent
        "étude",             # precomposed
        "café  du   parc",   # whitespace runs
        "ligature ﬁn",       # NFC keeps the ligature
        "ctrl\x00\x01here\x7f",   # control chars
        "tabs\tand\nnewlines",
        "",
        "Ångström Å",  # Å vs Angstrom sign (NFC folds U+212B)
    ]

    def test_nfc_matches_duckdb(self, spark):
        """Cross-oracle: Spark normalize_text(form='NFC', everything else
        off) must equal DuckDB nfc_normalize byte-for-byte."""
        import duckdb

        from poppy_spark.spark.text import normalize_text

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.CASES)], "id long, text string"
        )
        got = {
            r["id"]: r["text"]
            for r in normalize_text(
                df, "text", form="NFC", strip_control=False,
                collapse_whitespace=False,
            ).collect()
        }
        for i, t in enumerate(self.CASES):
            exp = duckdb.sql("select nfc_normalize(?)", params=[t]).fetchone()[0]
            assert got[i] == exp, (t, got[i], exp)

    def test_accent_folding_matches_duckdb(self, spark):
        import duckdb

        from poppy_spark.spark.text import normalize_text

        cases = ["éÈç", "naïve façade", "é"]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(cases)], "id long, text string"
        )
        got = {
            r["id"]: r["text"]
            for r in normalize_text(
                df, "text", form=None, fold_accents=True,
                strip_control=False, collapse_whitespace=False,
            ).collect()
        }
        for i, t in enumerate(cases):
            exp = duckdb.sql("select strip_accents(?)", params=[t]).fetchone()[0]
            assert got[i] == exp, (t, got[i], exp)

    def test_control_and_whitespace_cleanup(self, spark):
        from poppy_spark.spark.text import normalize_text

        df = spark.createDataFrame(
            [(1, "a\x00b  c\t\td \n e"), (2, None)], "id long, text string"
        )
        got = {r["id"]: r["text"] for r in normalize_text(df, "text").collect()}
        assert got[1] == "ab c d \n e"
        assert got[2] is None

    def test_dedup_after_normalization(self, spark):
        """The motivating composition: NFC-equal representations dedup
        together after normalize_text, not before."""
        from poppy_spark.spark.dedup import drop_exact_duplicates
        from poppy_spark.spark.text import normalize_text

        df = spark.createDataFrame(
            [(1, "café"), (2, "café"), (3, "other")],
            "doc_id long, text string",
        )
        before = drop_exact_duplicates(df, "text", "doc_id").count()
        after = drop_exact_duplicates(
            normalize_text(df, "text"), "text", "doc_id"
        ).count()
        assert before == 3 and after == 2

    def test_validation(self, spark):
        import pytest as _pytest

        from poppy_spark.spark.text import normalize_text

        df = spark.createDataFrame([(1, "x")], "id long, text string")
        with _pytest.raises(ValueError):
            normalize_text(df, "text", form="NFX")


class TestBpePieceWhitespace:
    def test_non_space_whitespace_pieces_not_counted(self, spark):
        """Round-5 parity find: a lone newline/tab piece must not count
        (Spark trim() strips only spaces; the DuckDB oracle's
        [^\\w\\s] never matched whitespace)."""
        from poppy_spark.spark.text import bpe_ish_token_count

        df = spark.createDataFrame(
            [("line\nOnce",), ("a\tb",), ("x \n y",)], "text string"
        )
        got = [r[0] for r in df.select(bpe_ish_token_count(F.col("text"))).collect()]
        assert got == [2, 2, 2]


class TestSemanticDedup:
    def test_planted_paraphrase_clusters(self, spark):
        """Planted paraphrase groups (exact scaled copies — cosine exactly 1
        after normalization) must land in one component each."""
        from poppy_spark.spark.similarity import semantic_dedup

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        base = emb.filter(F.col("vec_id") < 10)
        copies = [
            base.select(
                (F.col("vec_id") + 100_000 * j).alias("vec_id"),
                F.transform("embedding", lambda x: x * float(2 ** j))
                .cast("array<float>")
                .alias("embedding"),
            )
            for j in (1, 2)
        ]
        allv = emb.unionAll(copies[0]).unionAll(copies[1])
        out = semantic_dedup(
            allv, "vec_id", "embedding", threshold=0.999, n_centroids=8, iters=3
        )
        comp = {r["id"]: r["component"] for r in out.collect()}
        for i in range(10):
            assert comp[i] == comp[100_000 + i] == comp[200_000 + i]
        # distinct base vectors stay in distinct components (no spurious
        # merging at a threshold this tight)
        assert len({comp[i] for i in range(10)}) == 10

    def test_hot_cell_capped_pairs_bounded(self, spark):
        """A degenerate cluster (many identical vectors) is content-hash
        thinned to max_cell_size before the per-cell self-join, so the
        quadratic stage is bounded; survivors still cluster together."""
        from poppy_spark.spark.similarity import semantic_dedup

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        one = emb.filter(F.col("vec_id") == 0).select("embedding")
        clones = (
            emb.filter(F.col("vec_id") < 300)
            .select((F.col("vec_id") + 500_000).alias("vec_id"))
            .crossJoin(one)
        )
        allv = emb.unionAll(clones.select("vec_id", "embedding"))
        out = semantic_dedup(
            allv, "vec_id", "embedding", threshold=0.999, n_centroids=4,
            iters=2, max_cell_size=50,
        )
        comp = {r["id"]: r["component"] for r in out.collect()}
        clone_comps = {c for i, c in comp.items() if i >= 500_000 or i == 0}
        # the thinned survivors of the degenerate cluster form ONE component
        assert len(clone_comps) == 1
        # and thinning really dropped members: not all 301 clones survive
        n_clustered = sum(1 for i in comp if i >= 500_000)
        assert 2 <= n_clustered < 301


def _brute_remove_spans(docs: dict, span_words: int, min_docs: int) -> dict:
    import hashlib
    import re

    words = {
        i: [w for w in re.split(r"\s+", t.lower()) if w] for i, t in docs.items()
    }
    spanmap = {}
    for i, w in words.items():
        for p in range(max(0, len(w) - span_words + 1)):
            key = hashlib.md5(" ".join(w[p:p + span_words]).encode()).hexdigest()
            spanmap.setdefault(key, []).append((i, p))
    covered = {i: set() for i in docs}
    for occ in spanmap.values():
        if len({i for i, _ in occ}) >= min_docs:
            first = min(occ)
            for i, p in occ:
                if (i, p) != first:
                    covered[i].update(range(p, p + span_words))
    return {
        i: " ".join(w for j, w in enumerate(words[i]) if j not in covered[i])
        for i in docs
    }


class TestRemoveRepeatedSpans:
    def test_matches_bruteforce_with_overlaps(self, spark):
        """Planted boilerplate + overlapping repeats: the rebuild must equal
        the definitional per-occurrence removal (first occurrence kept)."""
        from poppy_spark.spark.spans import remove_repeated_spans

        boiler = "all rights reserved contact the site administrator today"
        docs = {
            1: f"alpha beta gamma {boiler} delta",
            2: f"epsilon {boiler} zeta eta",
            3: f"{boiler} {boiler}",  # overlapping + repeated within doc
            4: "totally unique words that repeat nowhere else at all",
            5: f"theta iota {boiler}",
        }
        df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
        got = {
            r["doc_id"]: r["text"]
            for r in remove_repeated_spans(
                df, "text", "doc_id", span_words=4, min_docs=2
            ).collect()
        }
        want = _brute_remove_spans(docs, 4, 2)
        assert got == want
        # the first occurrence's doc keeps the boilerplate verbatim
        assert boiler in got[1]
        assert boiler not in got[2] and boiler not in got[5]

    def test_all_words_removed_comes_back_empty(self, spark):
        from poppy_spark.spark.spans import remove_repeated_spans

        docs = {1: "one two three four", 2: "one two three four", 3: "x y"}
        df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
        got = {
            r["doc_id"]: r["text"]
            for r in remove_repeated_spans(
                df, "text", "doc_id", span_words=4, min_docs=2
            ).collect()
        }
        assert got == _brute_remove_spans(docs, 4, 2)
        assert got[1] == "one two three four" and got[2] == ""

    def test_layout_invariant(self, spark):
        from poppy_spark.spark.spans import remove_repeated_spans

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        planted = docs.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.col("text"), F.lit(" shared footer spans the corpus")),
            ).otherwise(F.col("text")).alias("text"),
        )
        a = remove_repeated_spans(planted, "text", "doc_id", span_words=5, min_docs=3)
        b = remove_repeated_spans(
            planted.repartition(13), "text", "doc_id", span_words=5, min_docs=3
        )
        assert sorted((r["doc_id"], r["text"]) for r in a.collect()) == sorted(
            (r["doc_id"], r["text"]) for r in b.collect()
        )

    def test_rejects_short_spans(self, spark):
        from poppy_spark.spark.spans import remove_repeated_spans

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError, match="span_words"):
            remove_repeated_spans(df, "text", "doc_id", span_words=1)

    def test_rejects_zero_stride(self, spark):
        from poppy_spark.spark.spans import remove_repeated_spans

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError, match="stride"):
            remove_repeated_spans(df, "text", "doc_id", stride=0)


class TestPngCodec:
    def test_roundtrip_gray_rgb_rgba(self):
        from poppy_spark.spark.multimodal import decode_png, encode_png

        rng = np.random.default_rng(11)
        for shape in [(7, 5), (16, 9, 3), (4, 23, 4)]:
            px = rng.integers(0, 256, size=shape, dtype=np.uint8)
            back = decode_png(encode_png(px))
            assert back.shape == px.shape
            assert np.array_equal(back, px)

    def test_all_filter_types_unfilter_correctly(self):
        """Hand-filter scanlines with Sub/Up/Average/Paeth per the PNG spec
        and check the decoder reconstructs the original pixels."""
        import struct
        import zlib

        from poppy_spark.spark.multimodal import _PNG_SIG, _paeth, _png_chunk, decode_png

        rng = np.random.default_rng(7)
        h, w, ch = 6, 5, 3
        px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8).astype(np.int32)
        stride = w * ch
        flat = px.reshape(h, stride)
        lines = bytearray()
        for y in range(h):
            ftype = [0, 1, 2, 3, 4, 2][y]
            cur = flat[y]
            prev = flat[y - 1] if y else np.zeros(stride, np.int32)
            enc = np.zeros(stride, np.int32)
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                if ftype == 0:
                    enc[x] = cur[x]
                elif ftype == 1:
                    enc[x] = (cur[x] - a) & 0xFF
                elif ftype == 2:
                    enc[x] = (cur[x] - b) & 0xFF
                elif ftype == 3:
                    enc[x] = (cur[x] - ((a + b) >> 1)) & 0xFF
                else:
                    enc[x] = (cur[x] - _paeth(a, b, c)) & 0xFF
            lines += bytes([ftype]) + enc.astype(np.uint8).tobytes()
        buf = (
            _PNG_SIG
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + _png_chunk(b"IDAT", zlib.compress(bytes(lines)))
            + _png_chunk(b"IEND", b"")
        )
        assert np.array_equal(decode_png(buf), px.astype(np.uint8))

    def test_rejects_non_png_and_unsupported(self):
        import pytest as _pytest

        from poppy_spark.spark.multimodal import decode_png

        with _pytest.raises(ValueError):
            decode_png(b"definitely not a png")


class TestPngProperties:
    def test_decode_inverts_any_spec_filtering(self):
        """Property pin: for random images and random per-scanline filter
        choices, a reference per-spec filterer + the decoder roundtrip
        byte-exactly (all five filter types, all four color layouts)."""
        import struct
        import zlib

        import hypothesis.strategies as st
        from hypothesis import given, settings

        from poppy_spark.spark.multimodal import (
            _PNG_SIG,
            _paeth,
            _png_chunk,
            decode_png,
        )

        @settings(max_examples=25, deadline=None)
        @given(
            st.integers(1, 9),  # h
            st.integers(1, 9),  # w
            st.sampled_from([1, 2, 3, 4]),  # channels
            st.integers(0, 2**32 - 1),  # pixel seed
            st.lists(st.integers(0, 4), min_size=9, max_size=9),  # filters
        )
        def roundtrip(h, w, ch, seed, ftypes):
            rng = np.random.default_rng(seed)
            px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
            stride = w * ch
            flat = px.reshape(h, stride).astype(np.int32)
            lines = bytearray()
            for y in range(h):
                ftype = ftypes[y]
                cur = flat[y]
                prev = flat[y - 1] if y else np.zeros(stride, np.int32)
                enc = np.zeros(stride, np.int32)
                for x in range(stride):
                    a = int(cur[x - ch]) if x >= ch else 0
                    b = int(prev[x])
                    c = int(prev[x - ch]) if x >= ch else 0
                    pred = [0, a, b, (a + b) >> 1, _paeth(a, b, c)][ftype]
                    enc[x] = (cur[x] - pred) & 0xFF
                lines += bytes([ftype]) + enc.astype(np.uint8).tobytes()
            color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
            buf = (
                _PNG_SIG
                + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0))
                + _png_chunk(b"IDAT", zlib.compress(bytes(lines)))
                + _png_chunk(b"IEND", b"")
            )
            got = decode_png(buf)
            want = px[:, :, 0] if ch == 1 else px
            assert np.array_equal(got, want)

        roundtrip()


class TestImageDhashNearDup:
    def test_dhash_identity_and_perturbation(self):
        from poppy_spark.spark.multimodal import (
            decode_png,
            dhash64,
            encode_png,
            _to_luma,
        )

        rng = np.random.default_rng(3)
        base = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
        tweaked = base.copy()
        tweaked[0, 0] = [255, 255, 255]  # single-pixel edit
        other = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
        h_base = dhash64(_to_luma(decode_png(encode_png(base))))
        h_tweak = dhash64(_to_luma(decode_png(encode_png(tweaked))))
        h_other = dhash64(_to_luma(decode_png(encode_png(other))))
        ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
        assert ham(h_base, h_base) == 0
        assert ham(h_base, h_tweak) <= 3
        assert ham(h_base, h_other) > 10

    def test_spark_image_near_dup_pipeline(self, spark):
        """PNG + BMP rows hash via image_dhash, planted near-identical
        pairs surface through the generic banded signature join, garbage
        rows are skipped."""
        from poppy_spark.spark.dedup import signature_near_pairs
        from poppy_spark.spark.multimodal import encode_bmp, encode_png, image_dhash

        rng = np.random.default_rng(9)
        rows = []
        for i in range(6):
            img = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
            near = img.copy()
            near[0, 0] = 0  # tiny edit -> near-dup
            rows.append((i, bytearray(encode_png(img))))
            rows.append((1000 + i, bytearray(encode_png(near) if i % 2 else encode_bmp(near))))
        rows.append((9999, bytearray(b"not an image at all")))
        rows.append((9998, None))
        df = spark.createDataFrame(rows, "id long, media binary")
        sigs = image_dhash(df, "id", "media")
        got_ids = {r["id"] for r in sigs.collect()}
        assert 9999 not in got_ids and 9998 not in got_ids
        assert len(got_ids) == 12
        pairs = signature_near_pairs(sigs, "id", "dhash", max_hamming=3).collect()
        found = {(r["id_a"], r["id_b"]) for r in pairs}
        for i in range(6):
            assert (i, 1000 + i) in found, f"planted near-dup {i} missed: {found}"


class TestMixedMediaAudio:
    def test_non_audio_rows_pass_through_null(self, spark):
        """extract_audio_features on a mixed media table: image/garbage
        rows emit NULL features instead of failing the job (ADVICE r4)."""
        from poppy_spark.spark.multimodal import (
            encode_bmp,
            encode_wav,
            extract_audio_features,
        )

        px = np.zeros((4, 4, 3), dtype=np.uint8)
        tone = (np.sin(np.linspace(0, 2 * np.pi * 440, 8000)) * 0.5)
        rows = [
            (1, "image", bytearray(encode_bmp(px))),
            (2, "audio", bytearray(encode_wav(tone.astype(np.float64), 8000))),
            (3, "video", None),
            (4, "audio", bytearray(b"\x00\x01garbage-not-riff")),
        ]
        df = spark.createDataFrame(rows, "id long, media_type string, media binary")
        got = {r["id"]: r for r in extract_audio_features(df).collect()}
        assert got[1]["audio_ms"] is None and got[1]["audio_rms"] is None
        assert got[3]["audio_ms"] is None
        assert got[4]["audio_ms"] is None  # bad magic -> NULL, not a crash
        assert got[2]["audio_ms"] == 1000
        assert got[2]["audio_rms"] == pytest.approx(0.5 / np.sqrt(2), rel=1e-2)


class TestGopherQualityFilters:
    GOOD = (
        "The quick brown fox jumps over the lazy dog and then settles down "
        "to rest with a full belly of warm food that it found near the old "
        "barn where farmers have stored their grain for many years now and "
        "plan to keep doing so because the barn is dry and safe from rain."
    )

    def _df(self, spark, rows):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
        )

    def test_rule_matrix(self, spark):
        """Each planted pathology trips exactly its own rule."""
        from poppy_spark.spark.text import gopher_quality_filters

        cases = [
            self.GOOD,                                     # 0: passes all
            "too short to keep",                           # 1: rule_words
            self.GOOD + "\n" + "\n".join("- item" for _ in range(30)),  # 2: bullets
            self.GOOD + " " + "#" * 1 + " #### ### ## # # # #",         # 3: symbols
            " ".join("12345" for _ in range(60)),          # 4: alpha (+stops)
            " ".join("pneumonoultramicroscopics" for _ in range(60)),   # 5: mean_wl
            self.GOOD + "\n" + "\n".join("so it goes..." for _ in range(5)),  # 6: ellipsis
            " ".join(f"w{i}" for i in range(60)),          # 7: stops (no stopwords)
        ]
        got = {
            r["doc_id"]: r.asDict()
            for r in gopher_quality_filters(self._df(spark, cases), "text").collect()
        }
        assert got[0]["gopher_pass"] is True
        assert got[1]["rule_words"] is False
        assert got[2]["rule_bullets"] is False and got[2]["rule_words"] is True
        assert got[3]["rule_symbols"] is False
        assert got[4]["rule_alpha"] is False
        assert got[5]["rule_mean_wl"] is False
        assert got[6]["rule_ellipsis"] is False
        assert got[7]["rule_stops"] is False
        for i in range(1, 8):
            assert got[i]["gopher_pass"] is False, i

    def test_brute_force_reference(self, spark):
        """Spark result equals an independent pure-Python evaluation of the
        integer-arithmetic rules over real sf0.001 documents + the crafted
        pathologies."""
        import re

        from poppy_spark.spark.text import GOPHER_STOPWORDS, gopher_quality_filters

        docs = [
            r["text"]
            for r in spark.read.parquet(
                "/root/testdata/sf0.001/documents.parquet"
            ).limit(40).collect()
        ]
        docs += [self.GOOD, "", "word", "#" * 200, "- only\n- bullets\n- here"]

        def ref(t):
            words = [w for w in re.split(r"\s+", t) if w != ""]
            words_lc = [w for w in re.split(r"\s+", t.lower()) if w != ""]
            n = len(words)
            total = sum(len(w) for w in words)
            n_sym = len(re.findall(r"#|…|\.\.\.", t))
            lines = re.split(r"\n", t)
            n_b = sum(1 for l in lines if re.search(r"^[ \t]*[-*•]", l))
            n_e = sum(1 for l in lines if re.search(r"(\.\.\.|…)[ \t]*$", l))
            n_a = sum(1 for w in words if re.search(r"[A-Za-z]", w))
            stops = sum(1 for w in GOPHER_STOPWORDS if w in words_lc)
            return {
                "rule_words": 50 <= n <= 100_000,
                "rule_mean_wl": 3 * n <= total <= 10 * n,
                "rule_symbols": 10 * n_sym <= n,
                "rule_bullets": 10 * n_b <= 9 * len(lines),
                "rule_ellipsis": 10 * n_e <= 3 * len(lines),
                "rule_alpha": 5 * n_a >= 4 * n,
                "rule_stops": stops >= 2,
                "n_words": n,
            }

        got = {
            r["doc_id"]: r.asDict()
            for r in gopher_quality_filters(self._df(spark, docs), "text").collect()
        }
        for i, t in enumerate(docs):
            exp = ref(t)
            for k, v in exp.items():
                assert got[i][k] == v, (i, k, t[:60])
            assert got[i]["gopher_pass"] == all(
                v for k, v in exp.items() if k.startswith("rule_")
            )

    def test_duckdb_parity(self, spark):
        """The exact SQL shape used by the driver oracle reproduces every
        rule column bit-for-bit."""
        import duckdb

        from poppy_spark.spark.text import gopher_quality_filters

        cases = [
            self.GOOD, "", "short", "#" * 99,
            "- a\n- b\nplain", "ends...\nends…\nplain", "12 34 56",
            self.GOOD + "\nwith a trailing newline\n",
        ]
        sdf = gopher_quality_filters(self._df(spark, cases), "text")
        got = {r["doc_id"]: r.asDict() for r in sdf.collect()}
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents AS SELECT * FROM (VALUES "
            + ",".join(f"({i}, ?)" for i in range(len(cases)))
            + ") t(doc_id, text)",
            cases,
        )
        sql = r"""
WITH g AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS words,
    list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '') AS words_lc,
    regexp_split_to_array(text, '\n') AS lines,
    CAST(len(regexp_extract_all(text, '#|…|\.\.\.')) AS BIGINT) AS n_sym
  FROM documents
), m AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS n_words,
    CAST(coalesce(list_sum(list_transform(words, w -> length(w))), 0) AS BIGINT) AS total_chars,
    n_sym,
    CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(len(list_filter(lines, l -> regexp_matches(l, '^[ \t]*[-*•]'))) AS BIGINT) AS n_bullet,
    CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)[ \t]*$'))) AS BIGINT) AS n_ell,
    CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
    (CAST(list_contains(words_lc, 'the') AS INT) + CAST(list_contains(words_lc, 'be') AS INT)
     + CAST(list_contains(words_lc, 'to') AS INT) + CAST(list_contains(words_lc, 'of') AS INT)
     + CAST(list_contains(words_lc, 'and') AS INT) + CAST(list_contains(words_lc, 'that') AS INT)
     + CAST(list_contains(words_lc, 'have') AS INT) + CAST(list_contains(words_lc, 'with') AS INT)) AS stop_hits
  FROM g
)
SELECT doc_id, n_words,
  n_words >= 50 AND n_words <= 100000 AS rule_words,
  3 * n_words <= total_chars AND total_chars <= 10 * n_words AS rule_mean_wl,
  10 * n_sym <= n_words AS rule_symbols,
  10 * n_bullet <= 9 * n_lines AS rule_bullets,
  10 * n_ell <= 3 * n_lines AS rule_ellipsis,
  5 * n_alpha >= 4 * n_words AS rule_alpha,
  stop_hits >= 2 AS rule_stops
FROM m
"""
        for row in con.execute(sql).fetchall():
            cols = [d[0] for d in con.description]
            exp = dict(zip(cols, row))
            i = exp.pop("doc_id")
            for k, v in exp.items():
                assert got[i][k] == v, (i, k)


class TestNormalizeIdempotence:
    def test_idempotent_property(self, spark):
        """normalize_text is a projection to a fixed point: applying it
        twice equals applying it once (NFC, accent folding, control strip,
        and whitespace collapse are each idempotent) — checked over real
        docs plus adversarial unicode."""
        from poppy_spark.spark.text import normalize_text

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).limit(50).select("doc_id", "text")
        extra = spark.createDataFrame(
            [
                (10_001, "á́ double-combining"),
                (10_002, "mixed \t\t ws \x01 ctl Å angstrom"),
                (10_003, "ﬁ ligature é́ acute-on-e-acute"),
            ],
            "doc_id long, text string",
        )
        for kw in (
            dict(form="NFC"),
            dict(form="NFKC", fold_accents=True),
            dict(form=None),
        ):
            once = normalize_text(docs.unionAll(extra), "text", **kw)
            twice = normalize_text(once, "text", **kw)
            diff = (
                once.alias("a")
                .join(twice.alias("b"), "doc_id")
                .filter("a.text <> b.text")
                .count()
            )
            assert diff == 0, kw


class TestCompressionRatio:
    def test_separation_and_nulls(self, spark):
        from poppy_spark.spark.text import compression_ratio

        import random

        rng = random.Random(31)
        varied = " ".join(
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(rng.randint(3, 9)))
            for _ in range(150)
        )
        rows = [
            (1, "spam ham eggs " * 200),  # boilerplate: a phrase on repeat
            (2, varied),                  # genuinely varied tokens
            (3, None),
            (4, ""),
        ]
        df = spark.createDataFrame(rows, "id bigint, text string")
        got = {r["id"]: r["comp_ratio"] for r in compression_ratio(df, "text").collect()}
        assert got[1] < 0.05
        assert got[2] > 0.05 and got[2] < 1.0
        assert got[3] is None and got[4] is None

    def test_deterministic_and_level_guard(self, spark):
        import pytest as _pytest

        from poppy_spark.spark.text import compression_ratio

        df = spark.createDataFrame([(1, "hello world " * 50)], "id bigint, text string")
        a = compression_ratio(df, "text").collect()[0]["comp_ratio"]
        b = compression_ratio(df, "text").collect()[0]["comp_ratio"]
        assert a == b
        with _pytest.raises(ValueError):
            compression_ratio(df, "text", level=0)


class TestStripHtml:
    FIXTURES = [
        (
            "<html><head><style>p{color:red}</style><script>var x=\"</div>\";</script></head>"
            "<body><p>Hello &amp; welcome</p><div>line two</div><!-- hidden -->"
            "<ul><li>a&nbsp;b</li></ul>tail &lt;tag&gt; &#39;q&#39; &quot;z&quot;</body></html>",
            "Hello & welcome\n line two\n a b\n tail <tag> 'q' \"z\"",
        ),
        ("plain text stays", "plain text stays"),
        ("a < b and a&b", "a < b and a&b"),
        ("<P CLASS='x'>upper</P><BR>next", "upper\n\nnext"),
    ]

    def test_fixtures_and_duckdb_parity(self, spark):
        import duckdb

        from poppy_spark.spark.text import HTML_STRIP_STEPS, strip_html

        df = spark.createDataFrame(
            [(i, t) for i, (t, _) in enumerate(self.FIXTURES)] + [(99, None)],
            "id int, text string",
        )
        got = {r["id"]: r["text"] for r in strip_html(df, "text").collect()}
        for i, (_, want) in enumerate(self.FIXTURES):
            assert got[i] == want, (i, got[i])
        assert got[99] is None
        # the SAME chain replayed in DuckDB RE2 is byte-identical
        con = duckdb.connect()
        for i, (src, want) in enumerate(self.FIXTURES):
            d = src
            for p, r in HTML_STRIP_STEPS:
                d = con.execute(
                    "SELECT regexp_replace(?, ?, ?, 'g')", [d, p, r]
                ).fetchone()[0]
            assert d.strip() == want

    def test_full_entities(self, spark):
        from poppy_spark.spark.text import strip_html

        df = spark.createDataFrame(
            [(1, "<p>caf&eacute; &#8212; &copy; 2026</p>")], "id int, text string"
        )
        got = strip_html(df, "text", full_entities=True).collect()[0]["text"]
        assert got == "café — © 2026"
