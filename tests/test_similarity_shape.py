"""The shared similarity jobs: the per-cell edge kernel's memory bound and
arithmetic, the corpus dimension read, and the connected-components
rounds (converged, materialized, never re-reading their input)."""

import tracemalloc

import numpy as np
import pytest

from pyspark.sql import functions as F


def _left_fold_pairs(ids, X, threshold):
    """Reference: every pair's cosine as the JVM left fold
    ``acc + a[j]*b[j]`` from 0.0, pair by pair in Python floats."""
    out = []
    for i in range(len(ids)):
        for c in range(i + 1, len(ids)):
            acc = 0.0
            for j in range(X.shape[1]):
                acc = acc + float(X[i, j]) * float(X[c, j])
            if acc >= threshold and ids[i] != ids[c]:
                out.append((ids[i], ids[c]))
    return out


class TestEdgeKernel:
    def _cell(self, m, d, seed):
        rng = np.random.default_rng(seed)
        X = rng.standard_normal((m, d))
        X[3] = X[2]
        X[m // 2 :] = X[: m - m // 2] * 1.0001  # planted near-duplicates
        X /= np.linalg.norm(X, axis=1)[:, None]
        ids = np.arange(m, dtype=np.int64)
        ids[3] = ids[2]  # a repeated id makes no self edge
        return ids, X

    @pytest.mark.parametrize("budget", [None, 17 * 40 * 3, 1])
    def test_pairs_equal_left_fold(self, monkeypatch, budget):
        """Bit-exact with the left fold at any row-block size (the default
        budget, 3-row blocks, 1-row blocks)."""
        from poppy_spark.spark import similarity

        if budget is not None:
            monkeypatch.setattr(similarity, "_EDGE_BLOCK_BYTES", budget)
        ids, X = self._cell(40, 6, 1)
        for thr in (0.0, 0.5, 0.9999):
            a, b = similarity._edge_pairs(ids, X, thr)
            assert list(zip(a.tolist(), b.tolist())) == _left_fold_pairs(ids, X, thr)
        assert len(similarity._edge_pairs(ids, X, 0.9999)[0]) >= 19

    def test_peak_memory_within_budget(self):
        """A 5,000-row cell peaks within the row-block byte budget, where a
        fixed 2048-row block would hold two ~82 MB arrays."""
        from poppy_spark.spark.similarity import _EDGE_BLOCK_BYTES, _edge_pairs

        ids, X = self._cell(5000, 8, 2)
        tracemalloc.start()
        try:
            a, _ = _edge_pairs(ids, X, 0.999)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert len(a) >= 2499  # the planted pairs
        assert peak <= _EDGE_BLOCK_BYTES + (1 << 20), peak
        assert 2 * 2048 * 5000 * 8 > _EDGE_BLOCK_BYTES + (1 << 20)


class TestCorpusDim:
    @pytest.fixture()
    def corpora(self, spark):
        rng = np.random.default_rng(4)
        rows = [(i, [float(x) for x in rng.standard_normal(6).astype(np.float32)]) for i in range(60)]
        schema = "vec_id bigint, embedding array<float>"
        null_first = spark.createDataFrame(
            spark.sparkContext.parallelize([(99, None)] + rows, 1), schema
        )
        null_last = spark.createDataFrame(
            spark.sparkContext.parallelize(rows + [(99, None)], 1), schema
        )
        return null_first, null_last

    def test_null_first_row(self, corpora):
        """The dimension comes from the first non-NULL vector, so a corpus
        whose first row is NULL gives the rows of the same corpus with the
        NULL row last."""
        from poppy_spark.spark.similarity import cosine_near_dup_pairs, lsh_topk

        def lsh_runs(corpus):
            q = corpus.filter(F.col("vec_id") < 4).select(F.col("vec_id").alias("qid"), "embedding")
            return [
                cosine_near_dup_pairs(corpus, "vec_id", "embedding", 0.5, method="lsh", n_planes=3),
                lsh_topk(corpus, q, "vec_id", "embedding", "qid", k=3, n_planes=3),
            ]

        null_first, null_last = corpora
        for got, want in zip(lsh_runs(null_first), lsh_runs(null_last)):
            rows = sorted(map(tuple, got.collect()), key=repr)
            assert rows and rows == sorted(map(tuple, want.collect()), key=repr)

    def test_no_vector_raises(self, spark):
        from poppy_spark.spark.similarity import cosine_near_dup_pairs

        empty = spark.createDataFrame([(1, None)], "vec_id bigint, embedding array<float>")
        with pytest.raises(ValueError, match="non-NULL vector"):
            cosine_near_dup_pairs(empty, "vec_id", "embedding", method="lsh")


def _chain(spark, n, seen=None):
    """``(id_a, id_b)`` edges of the path ``0 - 1 - ... - n-1``; ``seen``
    (an accumulator) counts each evaluation of an input row."""
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a bigint, b bigint")
    if seen is None:
        return df.select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))

    def count(x):
        seen.add(1)
        return x

    return df.select(F.udf(count, "bigint")("a").alias("id_a"), F.col("b").alias("id_b"))


class TestDuplicateComponents:
    @pytest.mark.parametrize("n", [5, 6, 7, 8])
    def test_labels_read_no_input(self, spark, n):
        """The caller's action reads the last round's output: it evaluates
        no input row again, whichever round the labels converged in."""
        from poppy_spark.spark.dedup import duplicate_components

        seen = spark.sparkContext.accumulator(0)
        labels = duplicate_components(_chain(spark, n, seen))
        during = seen.value
        assert during >= n - 1
        rows = labels.collect()
        assert seen.value == during
        assert sorted(rows) == sorted((i, 0) for i in range(n))

    def test_unconverged_raises(self, spark):
        """A 40-id chain needs 40 rounds: 25 raise, 50 give one component."""
        from poppy_spark.spark.dedup import duplicate_components

        pairs = _chain(spark, 40)
        with pytest.raises(ValueError, match="max_iter=25"):
            duplicate_components(pairs)
        rows = duplicate_components(pairs, max_iter=50).collect()
        assert sorted(rows) == [(i, 0) for i in range(40)]


class TestIvfpqDuplicateIds:
    @pytest.fixture()
    def index(self, spark):
        from poppy_spark.spark.similarity import ivf_train_centroids, pq_train_codebooks

        rng = np.random.default_rng(11)
        X = rng.standard_normal((80, 8))
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(X)]
        corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        cents = ivf_train_centroids(corpus, "vec_id", "embedding", 4)
        books = pq_train_codebooks(corpus, "vec_id", "embedding", 2, 8)
        return rows, corpus, cents, books

    def test_no_pair_outnumbers_its_rows(self, spark, index):
        """An id held by 2 corpus rows comes back at most twice per query."""
        from poppy_spark.spark.similarity import ivfpq_topk

        rows, unique, cents, books = index
        dup = rows + [(7, [x * 1.01 for x in rows[7][1]])]
        corpus = spark.createDataFrame(dup, "vec_id bigint, embedding array<double>")
        queries = unique.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        got = ivfpq_topk(
            corpus, queries, "vec_id", "embedding", "qid", k=10, n_probe=4,
            centroids=cents, codebooks=books,
        ).groupBy("query_id", "id").count().collect()
        held = {7: 2}
        assert any(r["id"] == 7 for r in got)
        assert all(r["count"] <= held.get(r["id"], 1) for r in got), got

    def test_unique_ids_match_the_join(self, spark, index):
        """On unique ids the carried codes and the top-k equal the former
        codes-join-cells composition."""
        from poppy_spark.spark.similarity import (
            _adc_topk, _frame, _with_cells, ivfpq_topk, pq_encode,
        )

        _, corpus, cents, books = index
        c_cells = _with_cells(cents, _frame(corpus, "vec_id", "embedding"))
        joined = pq_encode(c_cells, "id", "v", books).join(c_cells.select("id", "cell"), "id")
        carried = pq_encode(c_cells, "id", "v", books, carry=("cell",))
        assert sorted(carried.collect()) == sorted(joined.collect())
        queries = corpus.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        want = _adc_topk(joined, queries, "embedding", "qid", 5, books, 100, cents, 2)
        got = ivfpq_topk(
            corpus, queries, "vec_id", "embedding", "qid", k=5, n_probe=2,
            centroids=cents, codebooks=books,
        )
        assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
