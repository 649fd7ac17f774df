"""Eval-set decontamination: flag training documents that share word
n-grams with a benchmark/eval corpus.

The classic corpus-hygiene operator (GPT-3 appendix C / PaLM-style n-gram
overlap checks), built on the poppy Bloom filter this library is centered
on:

1. hash every distinct word ``k``-gram of the EVAL set (JVM ``xxhash64``
   over the word slots — no shingle strings are materialized),
2. build one Bloom filter over those hashes (eval sets are small next to
   the training corpus; even 10^8 eval n-grams at fpp=1e-6 is a ~343 MB
   filter, and past a worker's budget :mod:`poppy_spark.spark.sharded`
   holds the same role),
3. broadcast-probe every training document's n-gram stream — a narrow,
   shuffle-free pass over the 100 TB side — and count hits per document
   with map-side partial aggregation (the only shuffle is (doc_id, counts)).

Bloom zero-false-negative guarantee => NO contaminated document escapes;
false positives only ever over-flag, bounded by ``n_shingles * fpp`` per
document, so ``min_hits`` > 1 (standard practice for long documents) also
absorbs FP noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from poppy_spark.sketches import BloomSketch
from poppy_spark.spark.agg import build_sketch
from poppy_spark.spark.dedup import shingle_hashes
from poppy_spark.spark.probe import bloom_contains


def contamination_flags(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_hits: int = 1,
    fpp: float = 1e-6,
) -> DataFrame:
    """``train_df`` + ``(n_shingles, n_hits, contaminated)`` columns.

    ``contaminated`` is true when at least ``min_hits`` of the document's
    word ``k``-grams appear in ``eval_df``.  Documents producing no
    shingles (empty text) get ``n_shingles = n_hits = 0``.
    """
    # the eval explode runs twice (sizing count, filter build): eval sets
    # are small next to the training corpus by contract (module docstring)
    ev = shingle_hashes(eval_df, text_col, id_col, k).select("sh").distinct()
    n_grams = ev.count()
    filt = build_sketch(
        ev, "sh", BloomSketch.factory(max(n_grams, 1), fpp), int_keys="le8"
    )
    tr = shingle_hashes(train_df, text_col, id_col, k)
    per_doc = (
        bloom_contains(tr, "sh", filt.dumps(), "hit", int_keys="le8")
        .groupBy("id")
        .agg(
            F.count("*").alias("__n_shingles"),
            F.sum(F.col("hit").cast("long")).alias("__n_hits"),
        )
        .withColumnRenamed("id", "__decontam_id")
    )
    return (
        train_df.join(
            per_doc, F.col(id_col) == F.col("__decontam_id"), "left"
        )
        .drop("__decontam_id")
        .select(
            "*",
            F.coalesce(F.col("__n_shingles"), F.lit(0)).alias("n_shingles"),
            F.coalesce(F.col("__n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("__n_hits"), F.lit(0)) >= F.lit(min_hits)).alias(
                "contaminated"
            ),
        )
        .drop("__n_shingles", "__n_hits")
    )


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_hits: int = 1,
    fpp: float = 1e-6,
) -> DataFrame:
    """The clean training corpus: ``train_df`` minus every document sharing
    >= ``min_hits`` word ``k``-grams with ``eval_df`` (plus whatever the
    configured Bloom false-positive rate over-flags — never the reverse:
    zero false negatives means true contamination cannot survive)."""
    flagged = contamination_flags(
        train_df, eval_df, text_col, id_col, k=k, min_hits=min_hits, fpp=fpp
    )
    return flagged.filter(~F.col("contaminated")).drop(
        "n_shingles", "n_hits", "contaminated"
    )


def remove_contaminated_spans(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    span_words: int = 13,
    stride: int = 1,
    output_col: str | None = None,
    fpp: float = 1e-3,
    prefilter: bool = True,
) -> DataFrame:
    """Excise eval-overlapping spans from the training text instead of
    dropping whole documents — the surgical half of the GPT-3 appendix C
    protocol (flagging is :func:`contamination_flags`): every word covered
    by a training-side ``span_words``-word window whose content also occurs
    in ``eval_df`` is deleted, and the rest of the document survives.

    Returns ``(id_col, output_col)`` (default ``text_col``) with the text
    rebuilt as the space-joined surviving words — the same lowercased
    whitespace-normalized token space as
    :func:`poppy_spark.spark.spans.remove_repeated_spans`, whose rebuild
    shape this reuses.  The result is EXACT: the Bloom prefilter only thins
    the tuple stream (default ``fpp`` is loose because false positives die
    in the exact digest join right behind it); matching is by md5 of the
    space-joined window, so an ANSI engine reproduces the output
    byte-for-byte (TRUE-value oracle, no bound gates).

    Physical shape at 100 TB: the train side explodes to (id, pos, digest)
    tuples only — never span text; with ``prefilter`` the Bloom probe is a
    shuffle-free narrow pass that drops the overwhelmingly-clean tuples
    before anything wide, so the exact join's left side is ~(matching
    tuples + n_tuples * fpp) rows; the right side (distinct eval digests)
    is small and unique-keyed — AQE broadcasts it.  Survivor positions
    fold to one ``array<int>`` per contaminated doc, and the only exchange
    carrying text is the final doc-keyed equi-join.  ``stride`` applies
    the content-determined winnowing rule of ``spans._span_keys`` to BOTH
    sides, so thinning never misaligns them.
    """
    from poppy_spark.spark.spans import _span_tuples

    out = output_col or text_col
    # the distinct eval span set is read up to three times (prefilter sizing
    # count, filter build, exact join); small by the eval-set contract
    ev = _span_tuples(eval_df, text_col, F.lit(0), span_words, stride).select("__key").distinct()
    spans = _span_tuples(train_df, text_col, id_col, span_words, stride)
    if prefilter:
        n_ev = ev.count()
        filt = build_sketch(ev, "__key", BloomSketch.factory(max(n_ev, 1), fpp))
        spans = (
            bloom_contains(spans, "__key", filt.dumps(), "__maybe")
            .filter(F.col("__maybe"))
            .drop("__maybe")
        )
    starts = (
        spans.join(ev, "__key")
        .groupBy("__id")
        .agg(F.collect_set("__pos").alias("__starts"))
    )
    from poppy_spark.spark.text import _words

    src = train_df.select(
        F.col(id_col).alias("__id"), _words(F.col(text_col)).alias("__w")
    )
    joined = src.join(starts, "__id", "left")
    st = F.coalesce(F.col("__starts"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("__w"),
        lambda w, i: ~F.exists(
            st, lambda s: (i >= s) & (i < s + F.lit(span_words))
        ),
    )
    return joined.select(
        F.col("__id").alias(id_col),
        F.concat_ws(" ", kept).alias(out),
    )
