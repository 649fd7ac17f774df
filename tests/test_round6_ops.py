"""Round-6 optimization equivalence gates: every rewritten hot path must
produce byte/bit-identical results to the plan shape it replaced.

Covered rewrites:
* ``with_normalized`` — Arrow numpy pass vs the former JVM
  ``transform``/``aggregate`` expression (incl. null/NaN/ragged edges).
* ``semantic_dedup``'s ``_cell_edges`` — per-cell outer-product kernel vs
  the cell self-join + per-pair fold.
* ``word_ngrams`` — zip_with chain vs the slice-in-lambda transform.
* ``spans._span_tuples`` — materialized word array vs the inlined form.
* ``build_sketch_grouped(shuffle="rows")`` — single-shuffle segment fold
  vs the two-phase states shape (byte-equal states).
* ``bloom_contains_grouped_join`` — sorted segment probe (route-once)
  vs per-group semantics: built keys hit, aliens miss, rows carried.
"""

import math

import numpy as np
import pytest

from pyspark.sql import functions as F


def _jvm_normalize(df, vec_col, out_col="vec_n"):
    """The pre-round-6 JVM expression form of with_normalized."""
    from poppy_spark.spark.similarity import _norm

    n = _norm(F.col(vec_col))
    return df.withColumn(
        out_col,
        F.transform(F.col(vec_col), lambda v: (v / F.greatest(n, F.lit(1e-12))).cast("double")),
    )


class TestNormalizeExact:
    def test_matches_jvm_expression_on_edges(self, spark):
        from poppy_spark.spark.similarity import with_normalized

        rows = [
            (1, None),
            (2, []),
            (3, [1.5, -2.25, 3.0]),
            (4, [0.0, 0.0]),
            (5, [float("nan"), 1.0]),
            (6, [None, 2.0]),
            (7, [1e20, 1e20]),  # float32 product overflows to inf
            (8, [3.14]),
            (9, [0.1, 0.2, 0.3, 0.4]),
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        a = {r["vec_id"]: r["vec_n"] for r in _jvm_normalize(df, "embedding").collect()}
        b = {r["vec_id"]: r["vec_n"] for r in with_normalized(df, "embedding").collect()}

        def eq(x, y):
            if x is None or y is None:
                return x is None and y is None
            assert len(x) == len(y)
            for u, v in zip(x, y):
                if u is None or v is None:
                    if not (u is None and v is None):
                        return False
                elif math.isnan(u) or math.isnan(v):
                    if not (math.isnan(u) and math.isnan(v)):
                        return False
                elif u != v:
                    return False
            return True

        for k in a:
            assert eq(a[k], b[k]), (k, a[k], b[k])

    def test_matches_jvm_on_random_batch(self, spark):
        from poppy_spark.spark.similarity import with_normalized

        rng = np.random.default_rng(7)
        rows = [
            (i, [float(x) for x in rng.standard_normal(16).astype(np.float32)])
            for i in range(500)
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        joined = (
            _jvm_normalize(df, "embedding", "va")
            .join(with_normalized(df, "embedding", "vb"), "vec_id")
            .filter(~F.col("va").eqNullSafe(F.col("vb")))
        )
        assert joined.count() == 0  # bit-exact, not approximately equal


class TestCellEdgesKernel:
    def test_matches_join_plan(self, spark):
        from poppy_spark.spark.similarity import (
            _cell_edges, _dot, with_normalized,
        )

        rng = np.random.default_rng(11)
        base = rng.standard_normal((40, 8)).astype(np.float32)
        rows = []
        for i in range(40):
            rows.append((i, [float(x) for x in base[i]], int(i % 4)))
            # planted near-dup: tiny perturbation, same cell
            rows.append((1000 + i, [float(x) for x in base[i] * 1.0001], int(i % 4)))
        df = spark.createDataFrame(rows, "id bigint, embedding array<float>, cell int")
        cells = with_normalized(df, "embedding").select(
            "cell", "id", F.col("vec_n").alias("v")
        )
        for thr in (0.5, 0.9, 0.999):
            a_side = cells.select("cell", F.col("id").alias("id_a"), F.col("v").alias("va"))
            b_side = cells.select("cell", F.col("id").alias("id_b"), F.col("v").alias("vb"))
            old = (
                a_side.join(b_side, "cell")
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", _dot(F.col("va"), F.col("vb")).alias("c"))
                .filter(F.col("c") >= thr)
                .select("id_a", "id_b")
            )
            new = _cell_edges(cells, df.schema["id"].dataType, thr)
            assert old.exceptAll(new).count() == 0
            assert new.exceptAll(old).count() == 0
            assert new.count() > 0 or thr > 0.99  # the planted pairs survive

    def test_repeated_id_makes_no_self_edge(self, spark):
        """A repeated id in one cell scores against itself (cosine 1), yet
        every edge keeps ``id_a < id_b``: no ``(x, x)`` edge."""
        from poppy_spark.spark.similarity import _cell_edges

        rows = [
            (0, 7, [1.0, 0.0]),
            (0, 7, [1.0, 0.0]),  # same id, same vector
            (0, 3, [1.0, 0.001]),
            (0, 9, [0.0, 1.0]),
            (1, 5, [0.6, 0.8]),
            (1, 5, [0.6, 0.8]),
        ]
        cells = spark.createDataFrame(rows, "cell int, id bigint, v array<double>")
        got = sorted(tuple(r) for r in _cell_edges(cells, cells.schema["id"].dataType, 0.99).collect())
        assert all(a < b for a, b in got), got
        assert set(got) == {(3, 7)}


class TestWordNgramsEquivalence:
    def test_matches_transform_form(self, spark):
        from poppy_spark.spark.text import _words, word_ngrams

        def old_ngrams(text, n):
            words = _words(text)
            return F.when(
                F.size(words) >= n,
                F.transform(
                    F.slice(words, 1, F.size(words) - n + 1),
                    lambda _, i: F.concat_ws(" ", F.slice(words, i + 1, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))

        df = spark.createDataFrame(
            [
                (1, None),
                (2, ""),
                (3, "one"),
                (4, "  two  words "),
                (5, "a b c d e"),
                (6, "Tabs\tand\nnewlines mix"),
            ],
            "doc_id bigint, text string",
        )
        for n in (1, 2, 3, 6):
            a = [tuple(r) for r in df.select("doc_id", old_ngrams(F.col("text"), n)).collect()]
            b = [tuple(r) for r in df.select("doc_id", word_ngrams(F.col("text"), n)).collect()]
            assert sorted(a) == sorted(b), n


class TestSpanTuples:
    def test_matches_inline_form(self, spark):
        from poppy_spark.spark.spans import _span_tuples
        from poppy_spark.spark.text import _words

        def inline(df, text_col, id_col, span_words, stride):
            w = _words(F.col(text_col))
            n = F.size(w)
            starts = F.when(
                n >= span_words,
                F.sequence(F.lit(1), F.greatest(n - span_words + 1, F.lit(1))),
            ).otherwise(F.array().cast("array<int>"))
            keyed = F.transform(
                starts,
                lambda i: F.struct(
                    (i - 1).cast("int").alias("pos"),
                    F.md5(F.concat_ws(" ", F.slice(w, i, span_words))).alias("key"),
                ),
            )
            if stride != 1:
                keyed = F.filter(
                    keyed,
                    lambda s: F.conv(F.substring(s["key"], 1, 8), 16, 10).cast("bigint")
                    % stride
                    == 0,
                )
            return df.select(
                F.col(id_col).alias("__id"), F.explode(keyed).alias("s")
            ).select("__id", F.col("s.pos").alias("__pos"), F.col("s.key").alias("__key"))

        df = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog again and again"),
                (2, "short"),
                (3, None),
                (4, "a b c d e f g h i j k l m n o p"),
            ],
            "doc_id bigint, text string",
        )
        for span_words, stride in ((3, 1), (5, 2)):
            a = inline(df, "text", "doc_id", span_words, stride)
            b = _span_tuples(df, "text", "doc_id", span_words, stride)
            assert a.exceptAll(b).count() == 0
            assert b.exceptAll(a).count() == 0


class TestGroupedRowsShape:
    def test_states_byte_equal_to_two_phase(self, spark):
        from poppy_spark.sketches import BloomSketch, HllSketch
        from poppy_spark.spark.agg import build_sketch_grouped

        rows = [(g, f"key-{g}-{i}") for g in range(300) for i in range(g % 5 + 1)]
        rows += [(None, "null-group-key"), (None, "null-group-key-2")]
        df = spark.createDataFrame(rows, "g bigint, k string").repartition(8)
        for fac in (BloomSketch.factory(16, 0.01), HllSketch.factory(12)):
            a = build_sketch_grouped(df, "k", ["g"], fac)
            b = build_sketch_grouped(df, "k", ["g"], fac, shuffle="rows")
            # align on the group key with null-safe equality
            j = (
                a.withColumnRenamed("state", "sa").withColumnRenamed("n_rows", "na")
                .join(
                    b.withColumnRenamed("state", "sb").withColumnRenamed("n_rows", "nb"),
                    on=[a["g"].eqNullSafe(b["g"])],
                    how="full",
                )
            )
            bad = j.filter(
                F.col("sa").isNull()
                | F.col("sb").isNull()
                | (F.col("sa") != F.col("sb"))
                | (F.col("na") != F.col("nb"))
            ).count()
            assert bad == 0
            assert a.count() == b.count() == 301

    def test_rows_shape_rejects_unknown(self, spark):
        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.agg import build_sketch_grouped

        df = spark.createDataFrame([(1, "a")], "g bigint, k string")
        with pytest.raises(ValueError):
            build_sketch_grouped(df, "k", ["g"], BloomSketch.factory(4), shuffle="zigzag")


class TestMediaPoolingVectorized:
    def test_feat_matches_per_cell_means(self, spark):
        from poppy_spark.spark.multimodal import (
            decode_image, encode_bmp, extract_media_features,
        )

        rng = np.random.default_rng(3)
        rows = []
        for i in range(40):
            h, w = int(rng.integers(8, 40)), int(rng.integers(8, 40))
            img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
            rows.append((i, bytearray(encode_bmp(img)), w, h, "image", None))
        rows.append((999, None, 0, 0, "image", None))
        df = spark.createDataFrame(
            rows,
            "doc_id bigint, media binary, media_w int, media_h int, "
            "media_type string, media_ms int",
        )
        got = {
            r["doc_id"]: r["feat"]
            for r in extract_media_features(df, allow_fake=False).collect()
        }
        assert got[999] is None
        for i, buf, w, h, _, _ in rows[:-1]:
            plane = decode_image(bytes(buf), w, h, allow_fake=False)
            gh = np.array_split(plane, 8, axis=0)
            want = [
                float(c.mean())
                for row in gh
                for c in np.array_split(row, 8, axis=1)
            ]
            assert got[i] == want, i  # bit-exact, not approximately equal

    def test_audio_features_skip_riff_non_wave(self, spark):
        from poppy_spark.spark.multimodal import extract_audio_features

        rows = [
            (1, bytearray(b"RIFF" + b"\x00" * 4 + b"WEBP" + b"\x00" * 32)),
            (2, bytearray(b"RIFF" + b"\x00" * 2)),  # truncated header
            (3, None),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, media binary")
        out = {r["doc_id"]: r["audio_ms"] for r in extract_audio_features(df).collect()}
        assert out == {1: None, 2: None, 3: None}


class TestRoutedKernels:
    def test_route_then_scatter_equals_bulk_insert(self):
        from poppy_spark.core import BloomFilter
        from poppy_spark.core.hashkern import pack_arrow
        import pyarrow as pa

        keys = pa.array([f"key-{i}" for i in range(200)])
        mat, lens = pack_arrow(keys)
        a = BloomFilter.with_capacity(256, 0.01)
        a.insert_packed_bulk(mat, lens)
        b = BloomFilter.with_capacity(256, 0.01)
        route = b.route_packed(mat, lens)
        for lo in range(0, 200, 7):  # scatter in ragged slices
            hi = min(lo + 7, 200)
            b.or_routed(route[0][lo:hi], route[1][lo:hi], route[2][lo:hi])
        assert bytes(a._inner.buckets) == bytes(b._inner.buckets)

    def test_contains_routed_equals_contains_packed(self):
        from poppy_spark.core import BloomFilter
        from poppy_spark.core.hashkern import pack_arrow
        import pyarrow as pa

        f = BloomFilter.with_capacity(128, 0.01)
        f.insert_batch([f"in-{i}".encode() for i in range(64)])
        keys = pa.array([f"in-{i}" for i in range(64)] + [f"out-{i}" for i in range(64)])
        mat, lens = pack_arrow(keys)
        route = f.route_packed(mat, lens)
        got = f.contains_routed(*route)
        want = f.contains_packed(mat, lens)
        assert (got == want).all()
        assert got[:64].all()
