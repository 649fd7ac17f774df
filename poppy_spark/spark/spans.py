"""Repeated-span detection: verbatim word n-gram spans shared across
documents — the memorization/boilerplate audit primitive (the signal
behind suffix-array dedup a la Lee et al. 2022 "Deduplicating Training
Data Makes Language Models Better", approximated with fixed-length hashed
spans so it runs as two partially-aggregated shuffles instead of a
corpus-wide suffix sort).

Span keys are ``md5`` of the space-joined window, so ANSI engines
reproduce the result exactly (TRUE-value oracle, no bound gates).

Physical shape at 100 TB: the explode emits one (32-byte digest, id, pos)
tuple per word position — never span text; both aggregations are map-side
combined, so a boilerplate span repeated 10^6 times contributes one
partial row per map task to its digest's shuffle partition.  ``stride``
thins the shuffle by CONTENT (winnowing-style: keep a span iff its digest
mod stride == 0) — the same span text is selected in every document or in
none, so cross-document matches survive subsampling; positional striding
would sample mis-aligned windows in different documents and miss them.  A
shared run of L words carries L - span_words + 1 distinct span contents,
each kept with probability 1/stride, so long repeats are caught with
probability ~1 - (1 - 1/stride)^(L - span_words + 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from poppy_spark.spark.text import _words


def _span_structs(w, span_words: int, stride: int):
    """Span ``(pos, md5)`` structs over a MATERIALIZED words column ``w``.

    ``w`` must be an attribute (a projected column), not an inline
    expression: higher-order functions are interpreted (CodegenFallback)
    and re-evaluate non-attribute outer expressions PER ELEMENT, so an
    inlined ``_words(text)`` here costs O(n_words x |text|) regex work per
    document — measured 3.5x the whole span scan at sf1 (the
    ``dedup.shingles`` lesson; round-6 fix)."""
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
    if stride == 1:
        return keyed
    # content-determined selection: digest prefix mod stride — identical
    # span text is kept or dropped identically in every document
    return F.filter(
        keyed,
        lambda s: F.conv(F.substring(s["key"], 1, 8), 16, 10).cast("bigint")
        % stride
        == 0,
    )


def _span_tuples(
    df: DataFrame, text_col: str, id_col, span_words: int, stride: int
) -> DataFrame:
    """``(__id, __pos, __key)`` exploded span tuples with the word array
    projected first (see :func:`_span_structs` for why).  ``id_col`` may be
    a column name or a Column (e.g. ``F.lit(0)`` for an id-less side)."""
    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    wdf = df.select(idc.alias("__id"), _words(F.col(text_col)).alias("__w"))
    return wdf.select(
        "__id", F.explode(_span_structs(F.col("__w"), span_words, stride)).alias("s")
    ).select("__id", F.col("s.pos").alias("__pos"), F.col("s.key").alias("__key"))


def _check_span_args(span_words: int, stride: int) -> None:
    if span_words < 2:
        raise ValueError(f"span_words must be >= 2, got {span_words}")
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")


def repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_words: int = 20,
    min_docs: int = 2,
    stride: int = 1,
) -> DataFrame:
    """``(span_hash, n_docs, n_occurrences, first_id, first_pos)`` for
    every ``span_words``-word span appearing in at least ``min_docs``
    distinct documents.  ``first_*`` is the globally smallest
    ``(id, word position)`` occurrence — a deterministic representative
    for extraction (:func:`span_texts`)."""
    _check_span_args(span_words, stride)
    spans = _span_tuples(df, text_col, id_col, span_words, stride)
    # two-phase distinct-doc count: (key, id) first so the per-doc phase
    # map-combines, then the per-key rollup sees one row per (key, doc)
    per_doc = spans.groupBy("__key", "__id").agg(
        F.count("*").alias("n_in_doc"), F.min("__pos").alias("min_pos")
    )
    return (
        per_doc.groupBy("__key")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_in_doc").alias("n_occurrences"),
            F.min(F.struct(F.col("__id"), F.col("min_pos"))).alias("f"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select(
            F.col("__key").alias("span_hash"),
            "n_docs",
            "n_occurrences",
            F.col("f.__id").alias("first_id"),
            F.col("f.min_pos").alias("first_pos"),
        )
    )


def remove_repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_words: int = 20,
    min_docs: int = 2,
    stride: int = 1,
    output_col: str | None = None,
) -> DataFrame:
    """Excise repeated spans from the corpus, keeping each span's FIRST
    occurrence — the removal half of Lee et al. 2022 (the reference point
    for this module), beside :func:`repeated_spans`' detection half: every
    word covered by a non-first occurrence of a cross-document repeated
    span is deleted, and the first occurrence (the detection's
    deterministic ``(id, pos)`` argmin) survives verbatim.

    Returns ``(id_col, output_col)`` (default ``text_col``) with the text
    rebuilt as the space-joined surviving words.  The rebuild works in
    the detection's token space, so output text is lowercased and
    whitespace-normalized (exactly ``_words``); overlapping removed spans
    union their covered ranges; a doc whose every word is covered comes
    back as ``''``.

    Physical shape: the span scan emits (digest, id, pos) tuples only and
    is read once; one digest-keyed exchange feeds the windows that count
    each span's distinct documents and find its first ``(id, pos)`` (a
    boilerplate span repeated 10^6 times is one 10^6-row window partition,
    which Spark's window buffer spills past its threshold); removal starts
    fold to one ``array<int>`` per doc; and the only exchange carrying
    text is the final doc-keyed equi-join (unique key, skew-free) with
    an in-place array filter.  ``stride`` thins detection AND removal by
    the same content rule, so they stay consistent under subsampling."""
    _check_span_args(span_words, stride)
    out = output_col or text_col
    # one digest-partitioned pass over the span tuples: the distinct-doc
    # count and the first (id, pos) are windows over ``__key``, so the scan
    # is read once and no aggregate joins back onto it
    by_key = Window.partitionBy("__key")
    first = F.min(F.struct("__id", "__pos")).over(by_key)
    starts = (
        _span_tuples(df, text_col, id_col, span_words, stride)
        .withColumn("__rank", F.dense_rank().over(by_key.orderBy("__id")))
        .select("__id", "__pos", F.max("__rank").over(by_key).alias("__n_docs"), first.alias("__f"))
        .filter(
            (F.col("__n_docs") >= min_docs)
            & ~(
                (F.col("__id") == F.col("__f.__id"))
                & (F.col("__pos") == F.col("__f.__pos"))
            )
        )
        .groupBy("__id")
        .agg(F.collect_set("__pos").alias("__starts"))
    )
    src = df.select(F.col(id_col).alias("__id"), _words(F.col(text_col)).alias("__w"))
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


def span_texts(
    spans: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_words: int,
) -> DataFrame:
    """Join the representative occurrences back to their documents and
    slice out the actual span text — doc-keyed equi-join (skew-free: one
    row per repeated span on the left, unique ids on the right), the text
    never shuffles on the span digest."""
    docs = df.select(
        F.col(id_col).alias("first_id"), _words(F.col(text_col)).alias("__w")
    )
    return spans.join(docs, "first_id").select(
        "span_hash",
        "n_docs",
        "n_occurrences",
        "first_id",
        "first_pos",
        F.concat_ws(
            " ", F.slice(F.col("__w"), F.col("first_pos") + 1, span_words)
        ).alias("span_text"),
    )
