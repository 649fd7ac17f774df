"""No verb leaves a cache behind: after the terminal action of each corpus
verb, the context's persistent RDDs and the session's CacheManager are back
to where they were, and the plan the verb returned reads no cached data."""

import numpy as np
import pytest

from pyspark.sql import functions as F

WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi "
    "omicron pi rho sigma tau upsilon phi chi psi omega"
).split()


def _cache_entries(spark):
    """Entries in the session's CacheManager (a private field, read through
    reflection: the public API only says whether it is empty)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def _pinned(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size(), _cache_entries(spark)


@pytest.fixture(scope="module")
def docs(spark):
    rng = np.random.default_rng(5)
    rows = []
    for i in range(40):
        words = [WORDS[j] for j in rng.integers(0, len(WORDS), 30)]
        rows.append((i, " ".join(words)))
        if i % 4 == 0:
            rows.append((1000 + i, " ".join(words)))  # exact duplicate
        if i % 4 == 1:
            words[5] = "changed"
            rows.append((2000 + i, " ".join(words)))  # near duplicate
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture(scope="module")
def evals(spark, docs):
    picked = docs.filter(F.col("doc_id") < 6).select(
        (F.col("doc_id") + 90_000).alias("doc_id"), "text"
    )
    return picked.unionAll(spark.createDataFrame([(99_999, "nothing shared here at all")], picked.schema))


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(9)
    base = rng.standard_normal((60, 8)).astype(np.float32)
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    rows += [(500 + i, [float(x) for x in base[i] * 1.0001]) for i in range(10)]
    rows += [(900 + i, [float(x) for x in base[0]]) for i in range(40)]  # a hot cell
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def _verbs(docs, evals, vectors):
    from poppy_spark.spark.decontam import (
        contamination_flags, decontaminate, remove_contaminated_spans,
    )
    from poppy_spark.spark.dedup import exact_ngram_jaccard, near_duplicate_pairs
    from poppy_spark.spark.similarity import cosine_near_dup_pairs, ivf_topk, semantic_dedup
    from poppy_spark.spark.spans import remove_repeated_spans

    pairs = docs.select(F.col("doc_id").alias("id_a")).crossJoin(
        docs.select(F.col("doc_id").alias("id_b"))
    ).filter("id_a < id_b")
    queries = vectors.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    return {
        "near_duplicate_pairs": lambda: near_duplicate_pairs(docs, "text", "doc_id", 0.8),
        "exact_ngram_jaccard": lambda: exact_ngram_jaccard(docs, "text", "doc_id", pairs),
        "contamination_flags": lambda: contamination_flags(docs, evals, "text", "doc_id", k=5),
        "decontaminate": lambda: decontaminate(docs, evals, "text", "doc_id", k=5),
        "remove_contaminated_spans[prefilter]": lambda: remove_contaminated_spans(
            docs, evals, "text", "doc_id", span_words=5
        ),
        "remove_contaminated_spans[exact]": lambda: remove_contaminated_spans(
            docs, evals, "text", "doc_id", span_words=5, prefilter=False
        ),
        "remove_repeated_spans": lambda: remove_repeated_spans(
            docs, "text", "doc_id", span_words=5
        ),
        "cosine_near_dup_pairs": lambda: cosine_near_dup_pairs(
            vectors, "vec_id", "embedding", 0.99, method="exact"
        ),
        "semantic_dedup": lambda: semantic_dedup(
            vectors, "vec_id", "embedding", 0.99, n_centroids=4, iters=2, max_cell_size=20
        ),
        "ivf_topk": lambda: ivf_topk(
            vectors, queries, "vec_id", "embedding", "qid", k=3, n_centroids=4,
            n_probe=2, iters=2, max_cell_size=20,
        ),
    }


VERBS = [
    "near_duplicate_pairs", "exact_ngram_jaccard", "contamination_flags",
    "decontaminate", "remove_contaminated_spans[prefilter]",
    "remove_contaminated_spans[exact]", "remove_repeated_spans",
    "cosine_near_dup_pairs", "semantic_dedup", "ivf_topk",
]


@pytest.mark.parametrize("verb", VERBS)
def test_verb_leaves_no_cache(spark, docs, evals, vectors, verb):
    before = _pinned(spark)
    out = _verbs(docs, evals, vectors)[verb]()
    rows = out.collect()
    assert rows, f"{verb} returned no rows on the planted corpus"
    assert "InMemoryRelation" not in out._jdf.queryExecution().withCachedData().toString()
    assert _pinned(spark) == before
