"""Similarity search and near-duplicate detection over embedding columns
(``array<float>``): exact top-k (:func:`cosine_topk`), hyperplane LSH
(:func:`lsh_topk`, :func:`cosine_near_dup_pairs`), an IVF index
(:func:`ivf_train_centroids`, :func:`ivf_topk`, :func:`ivf_cell_stats`),
product quantization scored by table lookups (:func:`pq_train_codebooks`,
:func:`pq_encode`, :func:`pq_topk`, :func:`ivfpq_topk`) and SemDeDup
(:func:`semantic_dedup`).

Each job the verbs share has one helper: the normalized frame
(:func:`_frame`), cell assignment (:func:`_with_cells`), the per-query
top-k (:func:`_top_k`), the training sample (:func:`_training_sample`),
the bucket stream (:func:`_bucket_stream`), the banded self-join
(``dedup._banded_self_join``) and the ADC scorer (:func:`_adc_topk`).
Joins, dot products and rankings run in the JVM; Arrow-batched numpy
runs the normalization, cell assignment, PQ encoding, the per-cell edge
kernel and the ADC scorer.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType
from pyspark.sql.window import Window

# results here are content-deterministic (hash-ordered samples, per-row
# assignment, deterministic tie-breaks): ``_spread`` changes parallelism only
from poppy_spark.spark.agg import _spread
from poppy_spark.spark.dedup import _banded_self_join


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _normalize_rows_exact(arr):
    """Numpy replication of the JVM normalize expression, bit-exact.

    Replicates ``transform(vec, v -> cast(v / greatest(norm, 1e-12) as
    double))`` with ``norm = sqrt(aggregate(vec, 0.0D, acc + v*v))``
    including Spark's type promotions: the per-element product is a
    FLOAT multiply (float*float stays float in Spark SQL), the fold
    accumulates left-to-right in double, and the division promotes the
    raw float element to double.  The fast path needs non-null rows of
    uniform length; anything else goes through the per-row scalar
    replica (same IEEE operation sequence, including Spark's
    ``greatest(NULL, 1e-12) = 1e-12`` null-skipping and NaN-is-greatest
    semantics)."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    off = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = arr.values
    lens = np.diff(off)
    uniform = lens.size > 0 and bool((lens == lens[0]).all()) and lens[0] > 0
    if arr.null_count == 0 and flat.null_count == 0 and uniform:
        d = int(lens[0])
        # a sliced array's offsets start past 0 — window the child buffer
        base = int(off[0])
        x = flat.to_numpy(zero_copy_only=False)[base : base + len(arr) * d].reshape(
            len(arr), d
        )
        with np.errstate(over="ignore", invalid="ignore"):
            prod = x * x  # float32 multiply, matching Spark's float*float
            s = np.zeros(len(arr), dtype=np.float64)
            for j in range(d):  # left-to-right fold, double accumulator
                s += prod[:, j]
            scale = np.maximum(np.sqrt(s), 1e-12)  # NaN propagates, as greatest does
            out = x.astype(np.float64) / scale[:, None]
        return pa.ListArray.from_arrays(
            pa.array(off - base, type=pa.int32()),
            pa.array(out.ravel(), type=pa.float64()),
        )
    # slow exact path: per-row scalar fold (nulls / ragged / empty rows);
    # the element dtype follows the column (float32 embeddings multiply in
    # float32 as Spark does; already-double vectors multiply in float64)
    eldt = np.float64 if pa.types.is_float64(arr.type.value_type) else np.float32
    out_rows = []
    for row in arr:
        if not row.is_valid:
            out_rows.append(None)
            continue
        vals = [None if not e.is_valid else eldt(e.as_py()) for e in row.values]
        acc: float | None = 0.0
        for e in vals:
            if acc is None or e is None:
                acc = None  # NULL element poisons the fold, like acc + NULL
            else:
                acc = acc + float(e * e)  # float32 product, double add
        norm = None if acc is None else float(np.sqrt(acc))
        if norm is None:
            scale = 1e-12  # greatest(NULL, 1e-12) skips the null
        elif np.isnan(norm):
            scale = norm  # greatest treats NaN as the largest value
        else:
            scale = max(norm, 1e-12)
        out_rows.append([None if e is None else float(e) / scale for e in vals])
    return pa.array(out_rows, type=pa.list_(pa.float64()))


def with_normalized(df: DataFrame, vec_col: str, out_col: str = "vec_n") -> DataFrame:
    """Append an L2-normalized copy of the embedding column.

    One Arrow-batched numpy pass (guide §4.2) replacing the former
    ``transform``/``aggregate`` expression pair: higher-order functions are
    interpreted (CodegenFallback), CollapseProject re-inlines the norm
    aggregate into the transform lambda (O(dim^2) re-evaluation per row),
    and a pushed-down ``isNotNull(vec_n)`` filter then duplicated the whole
    expression below the exchange — measured 8x on the 64-dim bench table.
    The UDF is opaque to both rewrites, and
    :func:`_normalize_rows_exact` reproduces the JVM float semantics
    bit-for-bit (pytest-pinned), so results are unchanged.  A filter on
    the output still evaluates the UDF a second time for the filter, so
    callers drop NULLs on the input vector (NULL exactly where the output
    is)."""
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    def norm_rows(arr):
        return _normalize_rows_exact(arr)

    # real annotation objects: this module's `from __future__ import
    # annotations` would otherwise hand pyspark unresolvable strings
    norm_rows.__annotations__ = {"arr": pa.Array, "return": pa.Array}
    return df.withColumn(out_col, arrow_udf(norm_rows, "array<double>")(F.col(vec_col)))


def _frame(
    df: DataFrame, id_col: str, vec_col: str, keep_nulls: bool = False, query: bool = False
) -> DataFrame:
    """The L2-normalized rows a job scores: ``(id, v)`` for a corpus,
    spread over the cores, or ``(query_id, qv)`` for a query batch, taken
    as it comes (it is broadcast).  NULL vectors are dropped unless
    ``keep_nulls`` (the exact and LSH verbs score them: a NULL cosine, the
    all-zero sign bucket)."""
    i, v = ("query_id", "qv") if query else ("id", "v")
    src = df if query else _spread(df)[0]
    if not keep_nulls:  # on the input vector: see with_normalized
        src = src.filter(F.col(vec_col).isNotNull())
    return with_normalized(src, vec_col).select(F.col(id_col).alias(i), F.col("vec_n").alias(v))


def _top_k(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """The ``k`` best ``scored`` rows of each ``query_id`` with their
    ``rank``: by ``score_col`` descending, ties by ``id`` ascending."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score_col), F.asc("id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k: (query_id, id, cosine, rank).  The query side is
    broadcast — the corpus is scanned once, no shuffle of corpus rows."""
    c = _frame(corpus, id_col, vec_col, keep_nulls=True)
    q = _frame(queries, query_id_col, vec_col, keep_nulls=True, query=True)
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "id", _dot(F.col("v"), F.col("qv")).alias("cosine")
    )
    return _top_k(scored, "cosine", k)


def cosine_near_dup_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    method: str = "exact",
    n_planes: int = 8,
    n_tables: int = 8,
    max_rows: int = 100_000,
) -> DataFrame:
    """(id_a, id_b, cosine) pairs with cosine similarity >= ``threshold`` —
    embedding-space near-duplicate detection for the dedup family.

    ``method="exact"`` scores every pair (a self cross join: n^2/2 dot
    products — the correctness baseline).  It HARD-FAILS above ``max_rows``
    corpus rows (same quadratic-shape guard convention as
    ``sketch_pairwise``'s ``max_groups`` and LSH's ``_cap_buckets``): at
    10^6 rows the cross join is 5*10^11 dot products — use
    ``method="lsh"`` instead, or raise ``max_rows`` deliberately.
    ``method="lsh"`` prunes to pairs sharing any of ``n_tables``
    hyperplane-sign buckets before exact scoring (the 100 TB path; recall
    < 1 for pairs far below cosine ~1, so verify-stage thresholds near 1
    keep recall high — see the planted-recall gate).
    """
    c = _frame(corpus, id_col, vec_col, keep_nulls=True)
    if method == "exact":
        # the guard counts rows, which needs no normalized vector
        n = corpus.count()
        if n > max_rows:
            raise ValueError(
                f"cosine_near_dup_pairs(method='exact') on {n} rows exceeds "
                f"max_rows={max_rows} (an n^2/2 cross join); use "
                "method='lsh' for corpora this size, or raise max_rows "
                "explicitly"
            )
        a = c.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
        b = c.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    elif method == "lsh":
        buckets = _bucket_stream(c, "v", _dim(corpus, vec_col), n_planes, n_tables)
        pairs = (
            _banded_self_join(buckets, ["t", "b"])
            .select(
                F.col("a.id").alias("id_a"), F.col("a.v").alias("va"),
                F.col("b.id").alias("id_b"), F.col("b.v").alias("vb"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    scored = pairs.select(
        "id_a", "id_b", _dot(F.col("va"), F.col("vb")).alias("cosine")
    )
    return scored.filter(F.col("cosine") >= threshold)


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    n_centroids: int = 64,
    iters: int = 5,
    seed: int = 0,
    centroids: np.ndarray | None = None,
    max_cell_size: int = 10_000,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023): the
    embedding-level dedup tier modern pipelines run beside MinHash —
    k-means clusters bound the pairwise work, exact cosine scores run only
    WITHIN a cluster, and transitive closure groups the near-duplicates.
    Returns ``(id, component)`` for every vector in a near-dup component
    (component = smallest member id, ``dedup.duplicate_components``
    semantics); singletons are absent, as in LSH/exact dedup.

    One verb composing the audited pieces: :func:`ivf_train_centroids`
    (bottom-k-sampled deterministic driver k-means) / the shared-broadcast
    cell assignment, a per-cell self-join (pairwise work is
    sum-of-|cell|^2, NEVER |corpus|^2 — and every cell is hard-bounded by
    ``max_cell_size`` via the content-hash thinning of
    :func:`_thin_hot_cells`, so a degenerate embedding cluster cannot
    quadratically blow up its cell), exact cosine >= ``threshold``
    filtering, and min-label connected components.

    Recall caveat (inherent to SemDeDup): near-dup pairs straddling a
    cluster boundary are missed; thresholds near 1 keep the miss rate low
    because near-identical vectors share a nearest centroid.  At 100 TB
    the only corpus-sized exchange is the cell-keyed shuffle feeding the
    per-cell scoring kernel, plus the component propagation over the
    surviving edge list."""
    from poppy_spark.spark.dedup import duplicate_components

    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, id_col, vec_col, n_centroids, iters=iters, seed=seed
        )
    cells = _thin_hot_cells(_with_cells(centroids, _frame(corpus, id_col, vec_col)), max_cell_size)
    edges = _cell_edges(cells, corpus.schema[id_col].dataType, threshold)
    return duplicate_components(edges)


#: working bytes of one :func:`_edge_pairs` row block: the score block, the
#: product term added into it and the threshold mask, 17 bytes per pair
_EDGE_BLOCK_BYTES = 64 << 20


def _edge_pairs(ids: np.ndarray, X: np.ndarray, threshold: float) -> tuple[np.ndarray, np.ndarray]:
    """``(id_a, id_b)`` arrays of one cell's row pairs with exact cosine >=
    ``threshold`` and ``id_a < id_b`` (``ids`` sorted, ``X`` of one
    dimensionality).  Each block of rows, as many as fit
    :data:`_EDGE_BLOCK_BYTES`, is scored against the whole cell as
    ``S += X[lo:hi, j] (outer) X[:, j]`` over ``j`` in order from zero: the
    IEEE multiply-then-add sequence of the left fold ``acc + a[j]*b[j]``
    (numpy elementwise ops do not fuse), bit-exact at any block size."""
    m = len(ids)
    rows = max(1, min(m, _EDGE_BLOCK_BYTES // (17 * m)))
    block, term = np.empty((rows, m)), np.empty((rows, m))
    out_a, out_b = [ids[:0]], [ids[:0]]
    with np.errstate(over="ignore", invalid="ignore"):
        for lo in range(0, m, rows):
            hi = min(lo + rows, m)
            s, t = block[: hi - lo], term[: hi - lo]
            s.fill(0.0)
            for j in range(X.shape[1]):
                np.multiply.outer(X[lo:hi, j], X[:, j], out=t)
                s += t
            ri, ci = np.nonzero(s >= threshold)
            # strict upper triangle of distinct ids: id_a < id_b
            keep = (ci > (ri + lo)) & (ids[ci] != ids[ri + lo])
            out_a.append(ids[ri[keep] + lo])
            out_b.append(ids[ci[keep]])
    return np.concatenate(out_a), np.concatenate(out_b)


def _cell_edges(cells: DataFrame, id_type, threshold: float) -> DataFrame:
    """``(id_a, id_b)`` pairs with exact cosine >= ``threshold`` WITHIN each
    cell — the scoring stage of :func:`semantic_dedup`, as one numpy kernel
    (:func:`_edge_pairs`) per cell instead of a cell self-join + per-pair
    JVM fold (guide §4.2: the join materialized sum-of-|cell|^2 pair rows,
    each paying an interpreted ``aggregate``/``zip_with`` dot product; here
    only the few surviving edge pairs ever leave Python).

    Bit-exact with the former plan: the kernel's per-pair arithmetic is
    the left fold's, NaN elements poison the comparison the same way, and
    rows of differing dimensionality (NULL cosine under ``zip_with``
    padding) are scored per-dimension-group so cross-length pairs still
    produce no edge.  ``id_a < id_b`` ordering: numeric ids compare
    identically in numpy and Spark; string ids compare by code point in
    both."""
    import pandas as pd

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        out_a: list = []
        out_b: list = []
        # NULL ids can never satisfy the old plan's `id_a < id_b` predicate
        pdf = pdf[pdf["id"].notna()]
        if len(pdf) >= 2:
            pdf = pdf.sort_values("id", kind="stable")
            lens = pdf["v"].map(len).to_numpy()
            for d in np.unique(lens):
                sub = pdf[lens == d]
                if len(sub) < 2 or d == 0:
                    continue
                a, b = _edge_pairs(sub["id"].to_numpy(), np.stack(sub["v"].to_numpy()), threshold)
                out_a.extend(a)
                out_b.extend(b)
        return pd.DataFrame({"id_a": out_a, "id_b": out_b})

    out_schema = StructType(
        [StructField("id_a", id_type), StructField("id_b", id_type)]
    )
    return cells.groupBy("cell").applyInPandas(score, out_schema)


def ivf_train_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    iters: int = 5,
    sample_per_centroid: int = 32,
    seed: int = 0,
) -> np.ndarray:
    """Deterministic spherical k-means coarse quantizer for the IVF index.

    The training sample is the ``n_centroids * sample_per_centroid``
    smallest ``md5(seed|id)`` rows (a bottom-k content-hash sample — the
    same trick as :func:`poppy_spark.spark.sampling.bottom_k_sample`), so
    training sees identical vectors on every run, layout, and cluster
    size; Lloyd's iterations on the driver are then plain deterministic
    numpy.  Driver memory is bounded by the sample (independent of corpus
    size); assignment of the full corpus stays distributed.

    Returns a ``(n_centroids, dim)`` float64 matrix of L2-normalized
    centroids.
    """
    if n_centroids < 1:
        raise ValueError(f"n_centroids must be >= 1, got {n_centroids}")
    x = _training_sample(
        corpus, id_col, vec_col, f"ivf{seed}|", n_centroids * sample_per_centroid
    )
    if x.shape[0] < n_centroids:
        raise ValueError(
            f"corpus has {x.shape[0]} rows, fewer than n_centroids={n_centroids}"
        )
    cents = x[:n_centroids].copy()  # hash-ordered sample -> deterministic init
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if members.size:
                v = members.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cents[c] = v / n
    return cents


def _training_sample(
    corpus: DataFrame, id_col: str, vec_col: str, salt: str, n: int
) -> np.ndarray:
    """The ``n`` non-NULL normalized vectors with the smallest
    ``md5(salt + id)``, a float64 matrix on the driver: a bottom-k
    content-hash sample (as :func:`poppy_spark.spark.sampling.bottom_k_sample`),
    the same on every run, layout and cluster size, bounded by ``n``."""
    h = F.substring(F.md5(F.concat(F.lit(salt), F.col("id").cast("string"))), 1, 16)
    rows = (
        _frame(corpus, id_col, vec_col)
        .select("v", h.alias("__h"))
        .orderBy("__h")
        .limit(n)
        .collect()
    )
    return np.asarray([r["v"] for r in rows], dtype=np.float64)


def _with_cells(
    centroids: np.ndarray, c: DataFrame, probe: DataFrame | None = None, n_probe: int = 1
):
    """The corpus frame ``c`` with a ``cell`` column, its nearest cell.
    Given a query frame ``probe`` (only :func:`ivf_topk` passes one), the
    pair ``(c, probe)``, ``probe`` once per each of its ``n_probe``
    nearest cells; both sides share ONE Spark broadcast of the transposed
    centroids (see :func:`_ivf_cells_udf`)."""
    bc = c.sparkSession.sparkContext.broadcast(centroids.T.copy())
    nc = centroids.shape[0]
    c_cells = c.withColumn("cell", _ivf_cells_udf(bc, nc, 1)(F.col("v"))[0])
    if probe is None:
        return c_cells
    probe_cells = _ivf_cells_udf(bc, nc, n_probe)(F.col("qv"))
    return c_cells, probe.withColumn("cell", F.explode(probe_cells))


def _ivf_cells_udf(bc, n_centroids: int, n_probe: int):
    """Arrow-batched pandas UDF: normalized vector -> its ``n_probe``
    nearest centroid ids (by dot product).  One matmul per 16k-row batch.
    ``bc`` is a Spark BROADCAST of the transposed centroid matrix (shipped
    to each executor once, torrent-distributed), not a pickled UDF-closure
    copy — a 4096x768 float64 quantizer is ~25 MB, which a per-task
    closure would re-ship with every task.  The caller owns the broadcast
    and shares ONE per job between the corpus and query assignments."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    p = min(n_probe, n_centroids)

    def cells(vecs):
        x = np.asarray(vecs.tolist(), dtype=np.float64)
        scores = x @ bc.value
        top = np.argpartition(-scores, p - 1, axis=1)[:, :p]
        # stable probe order: best centroid first
        row_scores = np.take_along_axis(scores, top, axis=1)
        order = np.argsort(-row_scores, axis=1, kind="stable")
        return pd.Series(list(np.take_along_axis(top, order, axis=1).astype(np.int32)))

    cells.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return pandas_udf(cells, "array<int>")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int = 10,
    n_centroids: int = 64,
    n_probe: int = 4,
    iters: int = 5,
    seed: int = 0,
    centroids: np.ndarray | None = None,
    max_cell_size: int | None = None,
    max_queries: int = 10_000,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the k-means-bucketed scale
    path beside :func:`lsh_topk`: each corpus vector lands in ONE cell
    (its nearest coarse centroid), each query probes its ``n_probe``
    nearest cells, and exact cosine runs only on those candidates, cutting
    scored pairs to ~``n_probe / n_centroids`` of brute force.

    All data-sized work is distributed: cell assignment is one Arrow-
    batched matmul pass (the centroid matrix, ``n_centroids x dim`` — a
    few MB — ships as ONE explicit Spark broadcast shared by the corpus
    and query assignment UDFs, not a per-task pickled closure copy),
    candidates come from an equi-join on the cell id, and at production
    scale the assigned corpus would be written ``partitionBy(cell)`` once
    and reused across query batches.  Deterministic end-to-end (hash-
    sampled training, seeded init), so recall gates are reproducible.

    Hot cells: per-cell expected size is |corpus|/n_centroids (size
    n_centroids ~ sqrt(|corpus|) as usual for IVF), but a degenerate
    embedding distribution (many near-identical vectors) concentrates one
    cell, and every query probing it scores |hot cell| candidates.
    ``max_cell_size`` caps that (the ``_cap_buckets`` analog for ANN):
    cells above the cap are thinned to an expected ``max_cell_size``
    members by a deterministic content-hash filter before candidate
    generation — bounded work per (query, cell) at a recall cost ONLY
    inside degenerate cells, where the survivors are near-interchangeable
    anyway.  Use :func:`ivf_cell_stats` to inspect the actual cell-size
    distribution before choosing a cap.

    Query side: up to ``max_queries`` query vectors join as an explicit
    broadcast (~``n_probe * dim * 8`` bytes each — executor-memory
    bounded); above that the candidate join auto-degrades to a plain
    shuffle equi-join on the cell id (both sides exchange; a skewed probe
    distribution then leans on AQE skew-join, so cap hot cells too).
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, id_col, vec_col, n_centroids, iters=iters, seed=seed
        )
    # NULL embeddings carry no position — drop them before the matmul UDF
    # (the brute-force path would score them as NULL cosine anyway)
    q = _frame(queries, query_id_col, vec_col, query=True)
    c_cells, q_cells = _with_cells(centroids, _frame(corpus, id_col, vec_col), q, n_probe)
    if max_cell_size is not None:
        c_cells = _thin_hot_cells(c_cells, max_cell_size)
    # (query_id, id) pairs are unique by construction — one cell per corpus
    # vector, distinct probe cells per query — so no dedup shuffle is needed
    # (unlike lsh_topk, where multi-table membership duplicates pairs)
    # broadcast-vs-shuffle pick: the limit()-bounded probe count costs one
    # tiny job and keeps the broadcast guarded (guard convention: max_rows /
    # max_groups / _cap_buckets elsewhere in this family)
    n_q = q.limit(max_queries + 1).count()
    q_side = F.broadcast(q_cells) if n_q <= max_queries else q_cells
    scored = c_cells.join(q_side, "cell").select(
        "query_id", "id", _dot(F.col("v"), F.col("qv")).alias("cosine")
    )
    return _top_k(scored, "cosine", k)


def ivf_cell_stats(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
) -> DataFrame:
    """Per-cell size accounting for an IVF index: ``(cell, n_vectors)``,
    one row per non-empty cell (at most ``n_centroids`` rows — a tiny,
    fully pre-aggregated groupBy).  The skew dashboard for
    :func:`ivf_topk`: a cell holding >> |corpus|/n_centroids vectors
    means a degenerate embedding cluster — cap it with ``max_cell_size``
    or retrain with more centroids."""
    cells = _with_cells(centroids, _frame(corpus, id_col, vec_col))
    return cells.groupBy("cell").agg(F.count("*").alias("n_vectors"))


def _thin_hot_cells(c_cells: DataFrame, max_cell_size: int) -> DataFrame:
    """Thin cells above ``max_cell_size`` to an expected ``max_cell_size``
    surviving members via a deterministic content-hash filter: a row of a
    cell of ``n`` rows survives when ``hash_frac(cell|id) < max_cell_size /
    n``, layout/retry-stable (content-hashed, like
    ``sampling.hash_sample``).  ``n`` is ``count(*) over (partition by
    cell)``, so the rows reach the caller partitioned by ``cell``, which
    :func:`semantic_dedup`'s per-cell scoring shuffles by anyway.  Cells
    at or under the cap pass through untouched."""
    n = F.count("*").over(Window.partitionBy("cell"))
    # first 8 md5 hex chars as a uniform [0, 1) fraction of 2^32
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("cell").cast("string"), F.lit("|"), F.col("id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("double") / F.lit(4294967296.0)
    keep = F.lit(float(max_cell_size)) / F.col("__n").cast("double")
    return (
        c_cells.withColumn("__n", n)
        .filter((F.col("__n") <= max_cell_size) | (h < keep))
        .drop("__n")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7_777_777) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return [[float(x) for x in row] for row in rng.standard_normal((n_planes, dim))]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: one sign bit per plane, packed to bigint."""
    bits = None
    for i, p in enumerate(planes):
        arr = F.array(*[F.lit(x) for x in p])
        bit = F.when(_dot(vec, arr) >= 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        term = F.shiftleft(bit, i)
        bits = term if bits is None else bits.bitwiseXOR(term)
    return bits


def _dim(corpus: DataFrame, vec_col: str) -> int:
    """Length of the corpus's first non-NULL vector (one small job)."""
    row = corpus.filter(F.col(vec_col).isNotNull()).select(F.size(vec_col)).first()
    if row is None:
        raise ValueError(f"column {vec_col!r} holds no non-NULL vector")
    return row[0]


def _bucket_stream(
    df: DataFrame, v: str, dim: int, n_planes: int, n_tables: int
) -> DataFrame:
    """``df``'s rows once per hyperplane table, with the table ``t`` and the
    vector ``v``'s sign bucket ``b`` in it (:func:`lsh_bucket` over the
    seeded :func:`_hyperplanes` of each table): the stream both LSH verbs
    join on.  A NULL vector lands in bucket 0 of every table."""
    tb = F.explode(F.array(*[
        F.struct(
            F.lit(t).alias("t"),
            lsh_bucket(F.col(v), _hyperplanes(dim, n_planes, seed=7_777_777 + t)).alias("b"),
        )
        for t in range(n_tables)
    ])).alias("tb")
    return df.select(*df.columns, tb).select(*df.columns, "tb.t", "tb.b")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int = 10,
    dim: int | None = None,
    n_planes: int = 12,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates = corpus rows sharing any of
    ``n_tables`` hyperplane-sign buckets with the query, then exact cosine
    on the candidates only.  Recall grows with ``n_tables``; cost shrinks by
    ~2^n_planes per table vs brute force."""
    if dim is None:
        dim = _dim(corpus, vec_col)
    c = _frame(corpus, id_col, vec_col, keep_nulls=True)
    q = _frame(queries, query_id_col, vec_col, keep_nulls=True, query=True)
    # candidates = matches in any table
    cands = (
        _bucket_stream(c, "v", dim, n_planes, n_tables)
        .join(F.broadcast(_bucket_stream(q, "qv", dim, n_planes, n_tables)), ["t", "b"])
        .select("query_id", "id", "v", "qv")
        .dropDuplicates(["query_id", "id"])
    )
    scored = cands.select("query_id", "id", _dot(F.col("v"), F.col("qv")).alias("cosine"))
    return _top_k(scored, "cosine", k)


# ---------------------------------------------------------------------------
# product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------


def pq_train_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m_subspaces: int = 4,
    n_codes: int = 256,
    iters: int = 8,
    sample_per_code: int = 16,
    seed: int = 0,
) -> np.ndarray:
    """Train product-quantization codebooks (Jegou et al. 2011): split the
    (L2-normalized) embedding into ``m_subspaces`` contiguous blocks and
    k-means each block independently to ``n_codes`` codewords.  Returns a
    ``(m_subspaces, n_codes, dim/m_subspaces)`` float64 array.

    Training mirrors :func:`ivf_train_centroids`: a bottom-k content-hash
    sample bounds driver memory (independent of corpus size) and makes
    training deterministic across runs, layouts, and cluster sizes."""
    if m_subspaces < 1 or n_codes < 2:
        raise ValueError("need m_subspaces >= 1 and n_codes >= 2")
    x = _training_sample(corpus, id_col, vec_col, f"pq{seed}|", n_codes * sample_per_code)
    if x.shape[0] < n_codes:
        raise ValueError(
            f"sample has {x.shape[0]} rows, fewer than n_codes={n_codes}"
        )
    dim = x.shape[1]
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by m_subspaces {m_subspaces}")
    dsub = dim // m_subspaces
    books = np.empty((m_subspaces, n_codes, dsub), dtype=np.float64)
    for m in range(m_subspaces):
        sub = x[:, m * dsub : (m + 1) * dsub]
        cents = sub[:n_codes].copy()  # hash-ordered sample -> deterministic init
        for _ in range(iters):
            # argmin ||s-c||^2 == argmax s.c - ||c||^2/2 (the pq_encode
            # identity): one (n_sample, n_codes) matmul per iteration, never
            # the (n_sample, n_codes, dsub) broadcast temp — which at 768-dim
            # defaults is ~1.6 GB of float64 per subspace per iteration
            scores = sub @ cents.T - 0.5 * (cents * cents).sum(axis=1)
            assign = np.argmax(scores, axis=1)
            for c in range(n_codes):
                members = sub[assign == c]
                if members.size:
                    cents[c] = members.mean(axis=0)
        books[m] = cents
    return books


def pq_encode(
    corpus: DataFrame, id_col: str, vec_col: str, codebooks: np.ndarray, carry: tuple = ()
) -> DataFrame:
    """``(id, codes array<int>, *carry)``: each vector's nearest codeword
    per subspace — the 8-bit-per-subspace compressed index (a 768-dim
    float32 embedding becomes ``m_subspaces`` bytes, ~768x smaller at
    m=4) — with the ``carry`` columns of its row.  One Arrow-batched
    distance pass per 16k-row batch; the codebooks ship as a single Spark
    broadcast."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)

    def encode(vecs):
        books = bc.value
        m, n_codes, dsub = books.shape
        x = np.asarray(vecs.tolist(), dtype=np.float64)
        out = np.empty((x.shape[0], m), dtype=np.int32)
        for i in range(m):
            sub = x[:, i * dsub : (i + 1) * dsub]
            # argmin ||s - c||^2 == argmax s.c - ||c||^2/2
            scores = sub @ books[i].T - 0.5 * (books[i] ** 2).sum(axis=1)
            out[:, i] = np.argmax(scores, axis=1)
        return pd.Series(list(out))

    encode.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    udf = pandas_udf(encode, "array<int>")
    # no _spread here: the per-row work is one batched matmul, and callers
    # cache the codes — spreading a small table into many tiny partitions
    # made every downstream per-batch scorer (pq_topk) pay ~30x the
    # fixed per-batch cost for no compute win
    # NULLs dropped on the input vector: see with_normalized
    c = with_normalized(corpus.filter(F.col(vec_col).isNotNull()), vec_col)
    return c.select(F.col(id_col).alias("id"), udf(F.col("vec_n")).alias("codes"), *carry)


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    vec_col: str,
    query_id_col: str,
    k: int,
    codebooks: np.ndarray,
    max_queries: int = 10_000,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query builds an
    ``(m, n_codes)`` lookup table of subspace dot products ONCE, every
    corpus code scores with ``m`` table lookups instead of a ``dim``-wide
    dot product, and each Arrow batch emits only its local top-k per query
    before the global window — output is bounded by batches x queries x k,
    never |corpus| x |queries|.  Queries + LUTs travel as one broadcast
    (~``8 * m * n_codes`` bytes per query).

    The query batch is driver-materialized (LUTs are built driver-side),
    so it HARD-FAILS above ``max_queries`` rows — checked with a
    limit()-bounded count BEFORE the collect, so an oversized batch never
    reaches driver memory.  For larger batches, loop over query chunks
    and union the results (each chunk reuses the same ``codes`` index),
    or raise ``max_queries`` deliberately."""
    return _adc_topk(codes, queries, vec_col, query_id_col, k, codebooks, max_queries)


def _adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    vec_col: str,
    query_id_col: str,
    k: int,
    codebooks: np.ndarray,
    max_queries: int,
    centroids: np.ndarray | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """The ADC scorer of :func:`pq_topk` over ``codes`` (``id``, ``codes``,
    and ``cell`` when ``centroids`` is given): with ``centroids``, IVF-PQ
    is PQ with a per-query cell mask, each query scoring only the rows of
    its ``n_probe`` nearest cells.  At most ``max_queries + 1`` non-NULL
    query rows are collected in ONE bounded job and normalized on the
    driver through the exact kernel (:func:`_normalize_rows_exact`)."""
    import pandas as pd
    import pyarrow as pa

    qraw = (
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .filter(F.col("qv").isNotNull())
        .limit(max_queries + 1)
        .collect()
    )
    if len(qraw) > max_queries:
        raise ValueError(
            f"{'pq_topk' if centroids is None else 'ivfpq_topk'} query batch exceeds "
            f"max_queries={max_queries} (LUTs are driver-built); chunk the query "
            "batch and union results, or raise max_queries deliberately"
        )
    el = queries.schema[vec_col].dataType.elementType
    pa_el = pa.float64() if isinstance(el, DoubleType) else pa.float32()
    normed = _normalize_rows_exact(pa.array([list(r["qv"]) for r in qraw], type=pa.list_(pa_el)))
    qs = [np.asarray(v, dtype=np.float64) for v in normed.to_pylist()]
    m, n_codes, dsub = codebooks.shape
    luts = [
        np.array([codebooks[i] @ q[i * dsub : (i + 1) * dsub] for i in range(m)], dtype=np.float64)
        for q in qs
    ]
    probe_cells = None
    if centroids is not None:
        p = min(n_probe, centroids.shape[0])
        probe_cells = [sorted(int(x) for x in np.argpartition(-(q @ centroids.T), p - 1)[:p])
                       for q in qs]
    bc = codes.sparkSession.sparkContext.broadcast(
        ([r["query_id"] for r in qraw], np.stack(luts) if luts else None, probe_cells)
    )
    out_schema = StructType(
        [
            StructField("query_id", queries.schema[query_id_col].dataType),
            StructField("id", codes.schema["id"].dataType),
            StructField("approx_cosine", DoubleType()),
        ]
    )

    def score(batches):
        qids_b, luts_b, cells_b = bc.value
        if luts_b is None:
            return
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.asarray(pdf["codes"].tolist(), dtype=np.int64)  # (n, m)
            ids = pdf["id"].to_numpy()
            for qi, qid in enumerate(qids_b):
                sub, sub_ids = cm, ids
                if cells_b is not None:
                    mask = np.isin(pdf["cell"].to_numpy(), cells_b[qi])
                    if not mask.any():
                        continue
                    sub, sub_ids = cm[mask], ids[mask]
                lut = luts_b[qi]  # (m, n_codes)
                s = lut[0][sub[:, 0]].copy()
                for i in range(1, lut.shape[0]):
                    s += lut[i][sub[:, i]]
                top = np.argsort(-s, kind="stable")[:k]
                yield pd.DataFrame(
                    {"query_id": qid, "id": sub_ids[top], "approx_cosine": s[top]}
                )

    return _top_k(codes.mapInPandas(score, out_schema), "approx_cosine", k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int = 10,
    n_centroids: int = 64,
    n_probe: int = 4,
    m_subspaces: int = 8,
    n_codes: int = 64,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    max_queries: int = 10_000,
) -> DataFrame:
    """IVF-PQ: the production ANN composition (FAISS IVFPQ shape) — IVF
    cells prune WHICH vectors are scored, PQ codes decide HOW cheaply:
    each corpus vector stores one cell id + ``m_subspaces`` code bytes,
    each query probes its ``n_probe`` nearest cells and ADC-scores only
    those cells' codes with table lookups.  At 100 TB the index is
    ~``m_subspaces`` bytes/vector (vs 4*dim for float32) and a query
    touches ``n_probe / n_centroids`` of it — both knobs independent.

    Composition of the audited pieces: :func:`ivf_train_centroids` /
    cell assignment (one shared broadcast), :func:`pq_train_codebooks` /
    :func:`pq_encode` (codes computed on the full normalized vector — the
    flat-PQ variant; residual encoding would couple the codebooks to the
    quantizer and is unnecessary for cosine on normalized vectors), and
    the per-batch local-top-k ADC scorer of :func:`pq_topk`, masked per
    query to its probed cells (queries bounded by ``max_queries`` alike).
    """
    if centroids is None:
        centroids = ivf_train_centroids(corpus, id_col, vec_col, n_centroids)
    if codebooks is None:
        codebooks = pq_train_codebooks(corpus, id_col, vec_col, m_subspaces, n_codes)
    # corpus side: one projection carries each row's cell AND its codes
    # (a join back on id would multiply an id held by k rows into k^2 rows)
    c_cells = _with_cells(centroids, _frame(corpus, id_col, vec_col))
    codes = pq_encode(c_cells, "id", "v", codebooks, carry=("cell",))
    return _adc_topk(
        codes, queries, vec_col, query_id_col, k, codebooks, max_queries, centroids, n_probe
    )
