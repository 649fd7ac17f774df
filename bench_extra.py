"""Round-6 optimization harness: re-measure SUBSETS of the frozen bench.py
rows (same data setup, same lambdas, same best-of-2 protocol) without paying
for the whole suite — guide §1.4 noop-sink isolation lives here so bench.py
stays untouched.

Usage: python bench_extra.py [row ...]            (default: the round-6 focus rows)
Env:   SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS     (same contract as bench.py)
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    wanted = sys.argv[1:] or [
        "semantic_dedup_emb", "ivf_train", "ivf_topk", "pq_train_encode",
        "pq_topk", "spans_docs", "remove_spans_docs", "decontam_spans",
        "decontam_docs", "repetition_docs", "corpus_pipeline", "neardup_docs",
        "sharded_probe", "media_codecs",
    ]

    from poppy_spark.spark.session import get_spark

    spark = get_spark(app_name="poppy-spark-bench-extra", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    ncpu = int(cpus)
    spread = {"lineitem": ncpu, "documents": min(ncpu, 8)}
    tables: dict = {}

    def table(name):
        """The ``name`` table, read, cached and counted when a wanted row
        first needs it (before that row's timing starts)."""
        if name not in tables:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            tables[name] = (df.repartition(spread[name]) if name in spread else df).cache()
            tables[name].count()
        return tables[name]

    timings: dict[str, float] = {}

    def bench(name, fn, *needs, runs=2):
        """Time ``fn(*tables named by needs)``, best of ``runs``, when
        ``name`` is wanted."""
        if name not in wanted:
            return None
        args = [table(t) for t in needs]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        best, out = float("inf"), None
        for _ in range(runs):
            t0 = time.perf_counter()
            out = fn(*args)
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
        spark.sparkContext.setJobDescription(None)
        return out

    from poppy_spark.spark.decontam import (
        contamination_flags, remove_contaminated_spans,
    )
    from poppy_spark.spark.dedup import (
        drop_exact_duplicates, near_duplicate_pairs, normalized_words,
    )
    from poppy_spark.spark.similarity import (
        ivf_topk, ivf_train_centroids, pq_encode, pq_topk, pq_train_codebooks,
        semantic_dedup,
    )
    from poppy_spark.spark.spans import remove_repeated_spans, repeated_spans
    from poppy_spark.spark.text import quality_score, repetition_stats

    def ivf_queries(emb):
        return emb.limit(50).select(F.col("vec_id").alias("qid"), "embedding")

    cents = bench(
        "ivf_train", lambda emb: ivf_train_centroids(emb, "vec_id", "embedding", 32),
        "embeddings",
    )
    if "ivf_topk" in wanted:
        if cents is None:
            cents = ivf_train_centroids(table("embeddings"), "vec_id", "embedding", 32)
        bench(
            "ivf_topk",
            lambda emb: ivf_topk(
                emb, ivf_queries(emb), "vec_id", "embedding", "qid",
                k=10, n_centroids=32, n_probe=4, centroids=cents,
            ).count(),
            "embeddings",
        )
    bench(
        "semantic_dedup_emb",
        lambda emb: semantic_dedup(emb, "vec_id", "embedding", threshold=0.95,
                                   n_centroids=32, iters=3).count(),
        "embeddings",
    )
    pq_books = bench(
        "pq_train_encode",
        lambda emb: (
            lambda b: (pq_encode(emb, "vec_id", "embedding", b).count(), b)[1]
        )(pq_train_codebooks(emb, "vec_id", "embedding", 16, 64, iters=5)),
        "embeddings",
    )
    if "pq_topk" in wanted:
        emb = table("embeddings")
        if pq_books is None:
            pq_books = pq_train_codebooks(emb, "vec_id", "embedding", 16, 64, iters=5)
        pq_codes = pq_encode(emb, "vec_id", "embedding", pq_books).cache()
        pq_codes.count()
        bench(
            "pq_topk",
            lambda emb: pq_topk(pq_codes, ivf_queries(emb), "embedding", "qid", 10, pq_books)
            .count(),
            "embeddings",
        )
        pq_codes.unpersist()

    bench(
        "spans_docs",
        lambda docs: repeated_spans(docs, "text", "doc_id", span_words=10, min_docs=2).count(),
        "documents",
    )

    def spans_docs(docs):
        return docs.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(F.col("text"),
                         F.lit(" all rights reserved contact the site administrator today")),
            ).otherwise(F.col("text")).alias("text"),
        )

    bench(
        "remove_spans_docs",
        lambda docs: remove_repeated_spans(spans_docs(docs), "text", "doc_id",
                                           span_words=8, min_docs=2)
        .agg(F.sum(F.length("text"))).collect(),
        "documents",
    )

    def tr_ev(docs):
        """(training docs, eval docs): every seventh document is eval."""
        return docs.filter(F.col("doc_id") % 7 != 0), docs.filter(F.col("doc_id") % 7 == 0)

    bench(
        "decontam_docs",
        lambda docs: contamination_flags(*tr_ev(docs), "text", "doc_id", k=5)
        .filter("contaminated")
        .count(),
        "documents",
    )
    bench(
        "decontam_spans",
        lambda docs: remove_contaminated_spans(*tr_ev(docs), "text", "doc_id", span_words=5)
        .agg(F.sum(F.length("text")))
        .collect(),
        "documents",
    )
    bench(
        "repetition_docs",
        lambda docs: repetition_stats(docs, "text", "doc_id")
        .agg(F.avg("dup_line_frac"), F.avg("top_ngram_char_frac"))
        .collect(),
        "documents",
    )
    bench(
        "neardup_docs",
        lambda docs: near_duplicate_pairs(docs, "text", "doc_id", threshold=0.8,
                                          n_perms=64, bands=16).count(),
        "documents",
    )

    def corpus_pipeline(docs):
        long_docs = docs.filter(F.size(normalized_words(F.col("text"))) >= 30)
        corpus = docs.select("doc_id", "text").unionAll(
            docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        ).unionAll(
            long_docs.select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zz-near-dup")).alias("text"),
            )
        )
        surv = drop_exact_duplicates(corpus, "text", "doc_id")
        qual = quality_score(surv, "text").filter(F.col("quality") >= 0.99).select("doc_id", "text")
        pairs = near_duplicate_pairs(qual, "text", "doc_id", threshold=0.85, n_perms=64, bands=16)
        return qual.join(
            pairs.select(F.col("id_b").alias("doc_id")).distinct(), "doc_id", "left_anti"
        ).count()

    bench("corpus_pipeline", corpus_pipeline, "documents")

    if "sharded_probe" in wanted or "sharded_build" in wanted:
        from poppy_spark.spark.sharded import build_sharded_bloom

        lineitem = table("lineitem")
        n_keys = lineitem.select("l_orderkey").distinct().count()

        def sharded_build():
            sb = build_sharded_bloom(
                lineitem, "l_orderkey", capacity=n_keys, fpp=0.001,
                n_shards=int(cpus), persist=False,
            )
            sb.states.write.format("noop").mode("overwrite").save()
            return sb

        bench("sharded_build", sharded_build)
        sb = build_sharded_bloom(
            lineitem, "l_orderkey", capacity=n_keys, fpp=0.001, n_shards=int(cpus)
        )
        sb.states.count()
        bench(
            "sharded_probe",
            lambda: sb.contains(lineitem, "l_orderkey", "hit", strategy="shuffle")
            .agg(F.sum(F.col("hit").cast("long")))
            .collect(),
        )
        sb.unpersist()

    if "media_codecs" in wanted:
        from poppy_spark.spark.multimodal import encode_bmp, extract_media_features

        def media_row(docs):
            import numpy as _np
            import pandas as _pd
            import pyspark.sql.types as T

            schema = T.StructType(
                [
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("media", T.BinaryType()),
                    T.StructField("media_type", T.StringType()),
                    T.StructField("media_w", T.IntegerType()),
                    T.StructField("media_h", T.IntegerType()),
                    T.StructField("media_ms", T.IntegerType()),
                ]
            )

            def gen(batches):
                for pdf in batches:
                    yield _pd.DataFrame(
                        {
                            "doc_id": pdf["doc_id"],
                            "media": [
                                encode_bmp(
                                    _np.full((16, 16, 3), int(d) % 256, dtype=_np.uint8)
                                )
                                for d in pdf["doc_id"]
                            ],
                            "media_type": "image",
                            "media_w": 16,
                            "media_h": 16,
                            "media_ms": None,
                        }
                    )

            imgs = docs.select("doc_id").mapInPandas(gen, schema)
            return extract_media_features(imgs, allow_fake=False).agg(
                F.count("feat")
            ).collect()

        bench("media_codecs", media_row, "documents")

    print(json.dumps({"queries": timings, "sf": os.path.basename(sf_dir.rstrip("/")),
                      "cpus": int(cpus)}))
    for df in tables.values():
        df.unpersist()
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
