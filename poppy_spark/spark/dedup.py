"""Deduplication operators for large text corpora — exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Everything here compiles to built-in Spark expressions (split / explode /
xxhash64 / wide algebraic aggregates) so the hot path stays inside
whole-stage codegen with map-side partial aggregation — no Python UDFs.
Per-document MinHash is computed as 128 JVM-side ``min`` aggregates over the
exploded shingle stream; the shuffle carries one signature per document, not
the shingles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from poppy_spark.spark.text import _words as normalized_words


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def exact_duplicate_groups(
    df: DataFrame, text_col: str, id_col: str, max_ids: int = 20
) -> DataFrame:
    """(text_hash, n_copies, doc_ids) for every exactly-duplicated text.

    ``doc_ids`` is a bounded sample (first ``max_ids`` ids in id order) —
    web-scale corpora have single texts duplicated 10^7 times, and an
    unbounded ``collect_list`` would put that whole group in one row.  The
    window and the groupBy share the same hash partitioning, so the cap
    costs no extra shuffle.
    """
    from pyspark.sql.window import Window

    h = F.md5(F.col(text_col))
    w = Window.partitionBy(h).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .groupBy(h.alias("text_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.collect_list(
                F.when(F.col("__rn") <= max_ids, F.col(id_col))
            ).alias("doc_ids"),
        )
        .filter(F.col("n_copies") > 1)
    )


def drop_exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the smallest id per distinct text (deterministic survivor)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --------------------------------------------------------------------------
# MinHash signatures + LSH banding (all JVM-side)
# --------------------------------------------------------------------------


def shingles(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """(id, shingle) — word k-shingles of the normalized text.

    The word array is materialized in its own projection BEFORE the
    ``transform`` lambda: an outer non-attribute expression referenced
    inside a higher-order-function lambda is re-evaluated per element, so
    inlining the regex split would cost O(words^2) regex work per document
    (measured ~3x the whole pipeline at sf0.1)."""
    wdf = df.select(
        F.col(id_col).alias("id"), normalized_words(F.col(text_col)).alias("__w")
    )
    w = F.col("__w")
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(w, i, k)),
    )
    return wdf.select("id", F.explode(sh).alias("shingle"))


def shingle_hashes(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """(id, sh bigint) — 64-bit hashes of the word k-shingles.

    Hashes the k word slots directly (``xxhash64(w[i], w[i+1], ...)``)
    without ever materializing the shingle string, so everything downstream
    (the 128 permutation minima, the exact-Jaccard verify join) operates on
    8-byte hashes.  At 2^64, collisions are negligible next to MinHash's own
    estimation error.  ``F.get`` (null past the end) keeps sub-k-word
    documents ANSI-safe; the word array is materialized before the lambda
    (see :func:`shingles` for why)."""
    wdf = df.select(
        F.col(id_col).alias("id"), normalized_words(F.col(text_col)).alias("__w")
    )
    w = F.col("__w")
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - k, F.lit(0))),
        lambda i: F.xxhash64(*[F.get(w, i + j) for j in range(k)]),
    )
    return wdf.select("id", F.explode(sh).alias("sh"))


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n_perms: int = 128, k: int = 3
) -> DataFrame:
    """(id, sig array<bigint>) MinHash signatures.

    One xxhash64 per shingle string, then ``n_perms`` universal-hash minima
    as wide algebraic aggregates over the 8-byte shingle hash (hashing a
    bigint is several times cheaper than re-hashing the string per
    permutation) — partial aggregation keeps the shuffle at one signature
    per document.
    """
    sh = shingle_hashes(df, text_col, id_col, k)
    # one independent hash family member per permutation: xxhash64 over
    # (shingle_hash, perm index) — JVM-native, overflow-free under ANSI mode
    mins = [
        F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"m{i}")
        for i in range(n_perms)
    ]
    agg = sh.groupBy("id").agg(*mins)
    return agg.select("id", F.array(*[f"m{i}" for i in range(n_perms)]).alias("sig"))


def _cap_buckets(
    exploded: DataFrame, keys: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Bound the per-bucket membership before a bucket self-join.

    One boilerplate text duplicated B times puts B members in every one of
    its buckets and the self-join emits B^2 candidate rows per bucket — the
    classic web-corpus skew blowup (empty strings, cookie banners).  Keeping
    a deterministic sample of ``max_bucket_size`` members (first by id) caps
    any bucket's pair count at max^2/2 while exact-duplicate groups are
    still fully recovered by the cheaper :func:`exact_duplicate_groups`
    pass.  The row_number window shuffles on the same (bucket) key the join
    shuffles on, so AQE coalesces it into the join exchange.
    """
    if max_bucket_size is None:
        return exploded
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(F.col("id"))
    return (
        exploded.withColumn("__bn", F.row_number().over(w))
        .filter(F.col("__bn") <= max_bucket_size)
        .drop("__bn")
    )


def _banded_self_join(
    members: DataFrame, keys: list[str], max_bucket_size: int | None = None
) -> DataFrame:
    """``members`` (an ``id`` plus the bucket ``keys``) joined to itself as
    ``a`` and ``b`` on every key with ``a.id < b.id``, each bucket first
    capped at ``max_bucket_size`` members (:func:`_cap_buckets`; ``None``:
    no cap).  The candidate step of every banded near-dup join (MinHash
    bands, signature chunks, hyperplane tables); callers keep their own
    projection, dedup and filter."""
    m = _cap_buckets(members, keys, max_bucket_size)
    a, b = m.alias("a"), m.alias("b")
    return a.join(
        b, [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys] + [F.col("a.id") < F.col("b.id")]
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 32,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """(id_a, id_b) candidate near-duplicate pairs via banded LSH.

    Documents sharing any band bucket become candidates; a pair with Jaccard
    similarity s survives with probability 1 - (1 - s^r)^b.  Buckets larger
    than ``max_bucket_size`` are deterministically down-sampled before the
    self-join (see :func:`_cap_buckets`); pass ``None`` to disable.
    """
    banded = signatures.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.struct(
                    i.alias("band"),
                    F.xxhash64(
                        i, F.slice(F.col("sig"), i * rows_per_band + 1, rows_per_band)
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    return (
        _banded_self_join(banded, ["band", "bucket"], max_bucket_size)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_jaccard(signatures: DataFrame, pairs: DataFrame) -> DataFrame:
    """(id_a, id_b, jaccard_est) — matching-slot fraction of the signatures."""
    sa = signatures.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = signatures.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    joined = pairs.join(sa, "id_a").join(sb, "id_b")
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    return joined.select(
        "id_a",
        "id_b",
        (matches / F.size(F.col("sig_a"))).cast("double").alias("jaccard_est"),
    )


def exact_ngram_jaccard(
    df: DataFrame, text_col: str, id_col: str, pairs: DataFrame, k: int = 3
) -> DataFrame:
    """(id_a, id_b, jaccard) — exact shingle-set Jaccard for candidate pairs
    (the verify stage after LSH).  Operates on 64-bit shingle hashes, so the
    common-shingle join ships 8 bytes per shingle instead of the string;
    collisions at 2^64 are negligible.

    Shingles are computed ONLY for documents that appear in some candidate
    pair (a semi-join against the pair ids): at corpus scale candidates are
    a vanishing fraction of documents, so verify cost tracks the candidate
    set, not the corpus.  Candidate pairs sharing no shingle are omitted
    (their Jaccard is 0, so they cannot pass any positive threshold).  The
    plan reads the shingle set three times (sizes and both sides of the
    common-shingle join) and ``pairs`` twice; each read ends in the same
    ``distinct`` exchange, which Spark's exchange reuse runs once, so
    nothing is cached."""
    cand_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionAll(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # shingles only for docs that appear in some candidate pair: verify cost
    # tracks the candidate set, not the corpus
    cdf = df.join(
        cand_ids.withColumnRenamed("id", id_col) if id_col != "id" else cand_ids,
        id_col,
        "left_semi",
    )
    sh = shingle_hashes(cdf, text_col, id_col, k).distinct()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    # count common shingles per pair via join on shingle hash
    a = sh.select(F.col("id").alias("id_a"), "sh")
    b = sh.select(F.col("id").alias("id_b"), "sh")
    common = (
        pairs.join(a, "id_a").join(b, ["id_b", "sh"]).groupBy("id_a", "id_b").agg(F.count("*").alias("n_common"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).cast("double").alias("jaccard"),
        )
    )


def near_duplicate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    n_perms: int = 128,
    bands: int = 32,
    k: int = 3,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """Full near-dup pipeline: signatures -> LSH candidates -> exact-verify.

    Returns (id_a, id_b, jaccard) for pairs with exact shingle Jaccard >=
    ``threshold``.  Zero false negatives among exact duplicates (identical
    texts share every band bucket), up to the ``max_bucket_size`` skew cap."""
    sigs = minhash_signatures(df, text_col, id_col, n_perms, k)
    cands = lsh_candidate_pairs(sigs, bands, n_perms // bands, max_bucket_size)
    verified = exact_ngram_jaccard(df, text_col, id_col, cands, k)
    return verified.filter(F.col("jaccard") >= threshold)


# --------------------------------------------------------------------------
# SimHash (64-bit) — JVM-side weighted bit votes
# --------------------------------------------------------------------------


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, simhash bigint) — classic 64-bit SimHash over word tokens.

    Exploded token hashes vote +-1 per bit position; 64 algebraic ``sum``
    aggregates (map-side combinable) then bit reassembly."""
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(normalized_words(F.col(text_col))).alias("w"),
    )
    h = F.xxhash64(F.col("w"))
    votes = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(64)
    ]
    agg = words.groupBy("id").agg(*votes)
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseXOR(term)
    return agg.select("id", sim.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def signature_near_pairs(
    sig: DataFrame,
    id_col: str = "id",
    sig_col: str = "simhash",
    max_hamming: int = 3,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs whose 64-bit signatures are within
    ``max_hamming`` bits, blocked on 16-bit chunks (a pair within
    distance 3 must agree on at least one of the 4 chunks — pigeonhole;
    recall is exact for distance <= 3 and high for 4-6).  Works for ANY
    64-bit perceptual signature — SimHash text fingerprints
    (:func:`simhash_near_pairs`) and image dHash
    (``multimodal.image_dhash``) share this one join.  Chunk buckets
    larger than ``max_bucket_size`` are deterministically down-sampled
    before the self-join (skew cap)."""
    chunks = sig.select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("__sig"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("chunk"),
                    F.shiftright(F.col(sig_col), 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("val"),
                )
                for i in range(4)
            ])
        ).alias("c"),
    ).select("id", "__sig", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val"))
    pairs = (
        _banded_self_join(chunks, ["chunk", "val"], max_bucket_size)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.__sig"), F.col("b.__sig")).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def simhash_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with SimHash distance <= ``max_hamming``
    — :func:`simhash64` piped into the generic banded
    :func:`signature_near_pairs` join."""
    sh = simhash64(df, text_col, id_col)
    return signature_near_pairs(
        sh, "id", "simhash", max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )


# --------------------------------------------------------------------------
# connected components — transitive duplicate clusters
# --------------------------------------------------------------------------


def _materialized(df: DataFrame) -> DataFrame:
    """``df`` as one leaf over the RDD one run of its plan built: its
    shuffle stages run once (here under AQE, else in the first action) and
    later actions skip them, so they re-read no input and no earlier
    round, and nothing is cached (lost output recomputes from lineage).

    The leaf keeps that lineage, so every shuffle below it keeps its
    files on executor disk until the caller drops the frame: for the last
    round of :func:`duplicate_components`, each round's exchanges, about
    rounds x (|edges| + a few x |labels|) rows.  Its rows are ``toRdd``'s,
    uncopied (a task may reuse one row object); that is safe because the
    only reader of that RDD is this frame's scan, which projects each row
    into its own buffer as it arrives, and nothing caches the RDD."""
    jdf = df._jdf
    rows = jdf.queryExecution().toRdd()
    spark = df.sparkSession
    return DataFrame(spark._jsparkSession.internalCreateDataFrame(rows, jdf.schema(), False), spark)


def duplicate_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """``(id, component)`` — connected components over a duplicate-pair
    edge list, so survivor selection respects TRANSITIVE duplication
    (a~b, b~c puts a, b, c in one cluster even when a~c was never tested —
    the standard fix for pair-local dedup dropping chain members
    inconsistently).

    Min-label propagation: every vertex repeatedly adopts the smallest
    label among itself and its neighbors; converges in O(cluster diameter)
    rounds (near-dup clusters are shallow — LSH links most members
    directly), each round one shuffle join + one aggregation, its labels
    :func:`_materialized`: the caller's action re-runs neither the rounds
    nor the input pipeline, and every round's shuffle files stay on
    executor disk until the caller drops the returned frame.  Raises
    ``ValueError`` when a label still changed in round ``max_iter`` (a
    chain of n ids needs n rounds).
    Deterministic: labels are ids, min is order-free.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionAll(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    try:
        labels = _materialized(
            edges.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("component", F.col("id"))
        )
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges["src"] == labels["id"])
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("component").alias("__nbr"))
            )
            new_labels = _materialized(
                labels.join(neighbor_min, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"), F.coalesce(F.col("__nbr"), F.col("component"))
                    ).alias("component"),
                )
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.component") != F.col("o.component"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            raise ValueError(
                f"duplicate_components: labels still changed in the last of "
                f"max_iter={max_iter} rounds; raise max_iter (a chain of n ids "
                "needs n rounds)"
            )
    finally:
        edges.unpersist()
    return labels


def drop_transitive_duplicates(
    df: DataFrame, pairs: DataFrame, id_col: str,
    id_a: str = "id_a", id_b: str = "id_b",
) -> DataFrame:
    """Keep one survivor (the smallest id — the component label itself) per
    transitive duplicate cluster; rows in no pair pass through untouched."""
    comp = duplicate_components(pairs, id_a, id_b)
    losers = comp.filter(F.col("id") != F.col("component")).select("id")
    return df.join(losers, df[id_col] == losers["id"], "left_anti")


def ordered_group_duplicates(
    df: DataFrame,
    group_col: str,
    order_col: str,
    text_col: str,
) -> DataFrame:
    """Whole-GROUP (e.g. whole-conversation) exact dedup: two groups are
    duplicates when their ``text_col`` sequences, ordered by ``order_col``,
    are identical element-for-element.

    Returns one row per duplicate-class: ``(canonical, n_groups)`` with
    ``canonical`` = the smallest ``group_col`` value in the class and
    ``n_groups`` its member count (classes of size 1 included — filter
    ``n_groups > 1`` for strict duplicates).

    Physical shape: one shuffle keyed by the group id (task memory bounded
    by the largest single group — a conversation's own turns), the ordered
    concatenation collapses to an md5 hex digest immediately, and the
    second shuffle groups 32-byte digests, never full texts.  md5 is
    engine-portable, so ANSI-SQL engines reproduce the classes exactly
    (DuckDB: ``md5(string_agg(text, chr(31) ORDER BY ord))``).  Ties in
    ``order_col`` are broken by the text itself, keeping the digest
    deterministic under any partitioning.
    """
    seq = df.groupBy(group_col).agg(
        F.md5(
            F.concat_ws(
                "\x1f",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col(order_col), F.col(text_col)))
                    ),
                    lambda s: s[text_col],
                ),
            )
        ).alias("__digest")
    )
    return (
        seq.groupBy("__digest")
        .agg(
            F.min(group_col).alias("canonical"),
            F.count("*").alias("n_groups"),
        )
        .select("canonical", "n_groups")
    )


def line_dedup_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_chars: int = 1,
    output_col: str | None = None,
) -> DataFrame:
    """Corpus-wide line-level dedup (the C4/RefinedWeb-style pass): every
    line that appears anywhere earlier in the corpus is removed, where
    "earlier" means the globally smallest ``(doc id, line index)``
    occurrence — a deterministic total order, so the output is a pure
    function of the data.  Lines shorter than ``min_chars`` (after trim)
    are kept verbatim (blank separators, bullets).

    Physical shape — FULL LINE TEXT NEVER SHUFFLES: the explode projects
    only ``(id, pos, md5(line))`` (32-byte digests + two ints), the global
    first-occurrence argmin groups on the digest (map-side-combined ``min``,
    so a boilerplate line duplicated 10^6x contributes ONE row per map task
    to the hot digest's shuffle partition, not 10^6 copies of its text),
    survivor positions fold to one ``array<int>`` per doc, and the rebuild
    is a doc-keyed equi-join (unique key, skew-free — the only exchange
    that carries text, once per doc) plus an in-place array ``filter``.
    Keeping the text out of the digest-keyed exchange is the round-3
    verdict #3 fix: the previous plan joined the exploded lines back on
    ``__digest`` and re-shipped the hot line's text per copy.

    Returns ``(id_col, output_col)`` with ``output_col`` defaulting to
    ``text_col``; docs whose every line was removed come back as ''.
    """
    out = output_col or text_col
    digests = (
        df.select(
            F.col(id_col).alias("__id"),
            F.posexplode(F.split(F.col(text_col), r"\n")).alias("__pos", "__line"),
        )
        .filter(F.length(F.trim(F.col("__line"))) >= min_chars)
        .select("__id", "__pos", F.md5(F.col("__line")).alias("__digest"))
    )
    first = digests.groupBy("__digest").agg(
        F.min(F.struct(F.col("__id"), F.col("__pos"))).alias("__first")
    )
    keep_pos = (
        first.select(
            F.col("__first.__id").alias("__id"), F.col("__first.__pos").alias("__pos")
        )
        .groupBy("__id")
        .agg(F.collect_set("__pos").alias("__keep"))
    )
    src = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    joined = src.join(keep_pos, "__id", "left")
    keep = F.coalesce(F.col("__keep"), F.array().cast("array<int>"))
    kept_lines = F.filter(
        F.split(F.col("__text"), r"\n"),
        lambda line, i: F.array_contains(keep, i)
        | (F.length(F.trim(line)) < F.lit(min_chars)),
    )
    return joined.select(
        F.col("__id").alias(id_col),
        F.coalesce(F.concat_ws("\n", kept_lines), F.lit("")).alias(out),
    )
