"""Dump ``explain("formatted")`` for every round-6-touched operator.

Usage: python bench/plans_r06.py <out_dir> <suffix>
Run from the tree whose plans you want (round-start worktree for
``_before``, the optimized tree for ``_after``); data at sf0.01 — plan
shapes are scale-independent.
"""

from __future__ import annotations

import os
import sys


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
    os.makedirs(out_dir, exist_ok=True)

    from poppy_spark.spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(app_name="plans-r06", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    def dump(name, df):
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    li_full = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    from poppy_spark.sketches import BloomSketch
    from poppy_spark.spark.agg import build_sketch_grouped
    from poppy_spark.spark.decontam import remove_contaminated_spans
    from poppy_spark.spark.dedup import near_duplicate_pairs
    from poppy_spark.spark.probe import bloom_contains_grouped_join
    from poppy_spark.spark.similarity import (
        ivf_topk, ivf_train_centroids, pq_encode, pq_topk, pq_train_codebooks,
        with_normalized,
    )
    from poppy_spark.spark.spans import remove_repeated_spans, repeated_spans
    from poppy_spark.spark.text import repetition_stats, word_ngrams

    dump("with_normalized", with_normalized(emb, "embedding").select("vec_id", "vec_n"))

    q = emb.limit(20).select(F.col("vec_id").alias("qid"), "embedding")
    cents = ivf_train_centroids(emb, "vec_id", "embedding", 8, iters=2)
    dump(
        "ivf_topk",
        ivf_topk(emb, q, "vec_id", "embedding", "qid", k=5, n_centroids=8,
                 n_probe=2, centroids=cents),
    )
    books = pq_train_codebooks(emb, "vec_id", "embedding", 8, 16, iters=2)
    codes = pq_encode(emb, "vec_id", "embedding", books)
    dump("pq_topk", pq_topk(codes, q, "embedding", "qid", 5, books))

    # semantic_dedup's scoring stage (the components loop explodes plan size;
    # the rewritten stage is the per-cell edge kernel / former cell self-join)
    try:
        from poppy_spark.spark.similarity import _cell_edges, _ivf_cells_udf

        bc = spark.sparkContext.broadcast(cents.T.copy())
        c = (
            with_normalized(emb, "embedding")
            .select(F.col("vec_id").alias("id"), F.col("vec_n").alias("v"))
            .filter(F.col("v").isNotNull())
        )
        cells = c.withColumn("cell", _ivf_cells_udf(bc, cents.shape[0], 1)(F.col("v"))[0])
        dump(
            "semantic_dedup_edges",
            _cell_edges(cells, emb.schema["vec_id"].dataType, 0.95),
        )
    except ImportError:  # round-start tree: the join + JVM fold shape
        from poppy_spark.spark.similarity import _dot, _ivf_cells_udf

        bc = spark.sparkContext.broadcast(cents.T.copy())
        c = (
            with_normalized(emb, "embedding")
            .select(F.col("vec_id").alias("id"), F.col("vec_n").alias("v"))
            .filter(F.col("v").isNotNull())
        )
        cells = c.withColumn("cell", _ivf_cells_udf(bc, cents.shape[0], 1)(F.col("v"))[0])
        a = cells.select("cell", F.col("id").alias("id_a"), F.col("v").alias("va"))
        b = cells.select("cell", F.col("id").alias("id_b"), F.col("v").alias("vb"))
        edges = (
            a.join(b, "cell")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", _dot(F.col("va"), F.col("vb")).alias("cosine"))
            .filter(F.col("cosine") >= 0.95)
            .select("id_a", "id_b")
        )
        dump("semantic_dedup_edges", edges)

    dump("repeated_spans", repeated_spans(docs, "text", "doc_id", span_words=8))
    dump(
        "remove_spans",
        remove_repeated_spans(docs, "text", "doc_id", span_words=8, min_docs=2),
    )
    ev = docs.filter(F.col("doc_id") % 7 == 0)
    tr = docs.filter(F.col("doc_id") % 7 != 0)
    dump(
        "decontam_spans",
        remove_contaminated_spans(tr, ev, "text", "doc_id", span_words=5),
    )
    dump("repetition_stats", repetition_stats(docs, "text", "doc_id"))
    dump(
        "topk_ngrams",
        docs.select(F.explode(word_ngrams(F.col("text"), 2)).alias("gram"))
        .groupBy("gram")
        .count(),
    )
    dump(
        "neardup_pairs",
        near_duplicate_pairs(docs, "text", "doc_id", threshold=0.8, n_perms=16, bands=4),
    )

    # the high-cardinality grouped build + probe
    try:
        states = build_sketch_grouped(
            li, "l_partkey", ["l_orderkey"], BloomSketch.factory(16, 0.01),
            shuffle="rows",
        )
    except TypeError:  # round-start tree: no shuffle knob
        states = build_sketch_grouped(
            li, "l_partkey", ["l_orderkey"], BloomSketch.factory(16, 0.01),
            max_task_state_bytes=256 * 1024,
        )
    dump("grouped_hc_build", states)
    dump("grouped_hc_probe", bloom_contains_grouped_join(li, "l_partkey", "l_orderkey", states))

    # sharded shuffle probe over the full-width table (rows carried through the cogroup)
    from poppy_spark.spark.sharded import build_sharded_bloom

    sb = build_sharded_bloom(li_full, "l_orderkey", capacity=20000, fpp=0.001, n_shards=8)
    dump(
        "sharded_probe",
        sb.contains(li_full, "l_orderkey", "hit", strategy="shuffle"),
    )

    # media feature stage
    from poppy_spark.spark.multimodal import extract_media_features

    imgs = docs.select(
        "doc_id",
        F.lit(None).cast("binary").alias("media"),
        F.lit("image").alias("media_type"),
        F.lit(16).alias("media_w"),
        F.lit(16).alias("media_h"),
        F.lit(None).cast("int").alias("media_ms"),
    )
    dump("media_features", extract_media_features(imgs, allow_fake=False))

    spark.stop()


if __name__ == "__main__":
    main()
