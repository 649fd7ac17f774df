"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language identification, document fingerprinting.

All built-in Spark expressions (split / regexp / aggregate / xxhash64) —
JVM-side, whole-stage-codegen friendly, no Python in the hot path.

Model seams: the heuristics here (stopword language id, ratio-based
quality, regex pretokenizer) are the no-dependency defaults; real
pipelines swap in fastText / a trained classifier / a BPE tokenizer via
the ``model_factory`` parameter on :func:`detect_language`,
:func:`quality_score` and :func:`model_token_count`.  A factory is a
picklable zero-arg callable, invoked ONCE PER PYTHON WORKER (cached) and
returning ``predict(list[str]) -> list``; batches arrive through the
Arrow-vectorized pandas UDF path, so a plugged model costs one Arrow
transfer per 16k-row batch, never per-row Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: per-worker cache of instantiated models, keyed by the factory's pickle
#: (one fastText model per executor process, not per batch)
_MODEL_CACHE: dict = {}


def _model_udf(model_factory, return_type: str):
    """Wrap a model factory into an Arrow-batched pandas UDF whose model is
    instantiated once per Python worker."""
    import pickle

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    key = pickle.dumps(model_factory)

    def apply_model(texts):
        # resolve the cache through the module AT RUNTIME: cloudpickle
        # ships nested functions with a BY-VALUE copy of referenced
        # globals, so a direct _MODEL_CACHE reference would give every
        # task its own private (always-cold) dict — the model would
        # re-instantiate once per task, not once per worker process
        from poppy_spark.spark.text import _MODEL_CACHE as cache

        predict = cache.get(key)
        if predict is None:
            predict = cache[key] = model_factory()
        return pd.Series(predict(texts.tolist()))

    # real annotation objects: this module's `from __future__ import
    # annotations` would otherwise hand pyspark unresolvable strings
    apply_model.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(apply_model, return_type)


def model_token_count(
    df: DataFrame, text_col: str, model_factory, output_col: str = "n_tokens"
) -> DataFrame:
    """Token counts from a plugged tokenizer (e.g. a real BPE): the factory
    returns ``predict(list[str]) -> list[int]``.  The heuristic default for
    dependency-free pipelines is :func:`token_count` /
    :func:`bpe_ish_token_count` (pure JVM expressions)."""
    return df.withColumn(
        output_col, _model_udf(model_factory, "bigint")(F.col(text_col))
    )

#: tiny per-language stopword lists for the n-gram/stopword-ratio heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for",
           "with", "are", "this", "not", "you"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "est", "que",
           "pour", "dans", "qui", "pas", "avec"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit",
           "für", "auf", "von", "dem", "den", "sich"],
    "es": ["el", "la", "los", "las", "de", "que", "y", "en", "un", "una",
           "es", "por", "con", "para", "del"],
}


def _words(text: Column) -> Column:
    """Lowercased whitespace tokens with empties removed: the one word
    tokenizer (``dedup.normalized_words`` is this function)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda w: w != "")


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank text)."""
    return F.size(_words(text)).cast("bigint")


def bpe_ish_token_count(text: Column) -> Column:
    """A BPE-flavored token estimate: word-piece regex splits on word
    boundaries, digits, and punctuation runs (roughly GPT-2-pretokenizer
    shaped), counting pieces rather than bytes."""
    pieces = F.filter(
        F.split(text, r"(?=[^\w])|(?<=[^\w])|(?<=\d)(?=\D)|(?<=\D)(?=\d)"),
        # keep pieces with any NON-whitespace: trim() strips only spaces,
        # so a lone "\n" piece would otherwise count (round-5 parity find)
        lambda p: p.rlike(r"\S"),
    )
    return F.size(pieces).cast("bigint")


def normalize_text(
    df: DataFrame,
    text_col: str,
    output_col: str | None = None,
    form: str | None = "NFC",
    fold_accents: bool = False,
    strip_control: bool = True,
    collapse_whitespace: bool = True,
) -> DataFrame:
    """The standard corpus text-normalization pass (the C4/RefinedWeb
    pre-dedup step): Unicode normalization to ``form`` (NFC/NFKC/NFD/NFKD,
    or None to skip), optional accent folding (NFKD + drop combining
    marks — DuckDB ``strip_accents`` semantics), control-character
    stripping (C0/C1 except ``\\t\\n``), and whitespace-run collapsing
    (any run of spaces/tabs becomes one space; newlines survive so
    line-level dedup still sees document structure).

    Unicode normalization has no JVM builtin, so that step is one
    Arrow-batched pandas UDF (``unicodedata`` is C-speed per string);
    everything else is codegen ``regexp_replace``.  With ``form=None``
    and ``fold_accents=False`` the whole pass is pure JVM.  Dedup
    pipelines should normalize FIRST: NFC-equal texts hash equal
    afterwards, so exact dedup stops splitting on representation."""
    if form is not None and form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    out = output_col or text_col
    col = F.col(text_col)
    if form is not None or fold_accents:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        _form, _fold = form, fold_accents

        def norm(texts):
            import unicodedata

            def one(t):
                if t is None:
                    return None
                if _form is not None:
                    t = unicodedata.normalize(_form, t)
                if _fold:
                    t = "".join(
                        c
                        for c in unicodedata.normalize("NFKD", t)
                        if not unicodedata.combining(c)
                    )
                return t

            return pd.Series([one(t) for t in texts])

        norm.__annotations__ = {"texts": pd.Series, "return": pd.Series}
        col = pandas_udf(norm, "string")(col)
    if strip_control:
        col = F.regexp_replace(col, r"[\x00-\x08\x0b-\x1f\x7f-\x9f]", "")
    if collapse_whitespace:
        col = F.trim(F.regexp_replace(col, r"[ \t]+", " "))
    return df.withColumn(out, col)


def text_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Append n_tokens / n_chars / punct_ratio / digit_ratio / upper_ratio /
    mean_word_len / whitespace_ratio columns."""
    t = F.col(text_col)
    n_chars = F.length(t)
    safe = F.greatest(n_chars, F.lit(1))
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    n_space = n_chars - F.length(F.regexp_replace(t, r"\s", ""))
    words = _words(t)
    return (
        df.withColumn("n_chars_txt", n_chars.cast("bigint"))
        .withColumn("n_tokens", F.size(words).cast("bigint"))
        .withColumn("punct_ratio", (n_punct / safe).cast("double"))
        .withColumn("digit_ratio", (n_digit / safe).cast("double"))
        .withColumn("upper_ratio", (n_upper / safe).cast("double"))
        .withColumn("whitespace_ratio", (n_space / safe).cast("double"))
        .withColumn(
            "mean_word_len",
            (
                F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
                / F.greatest(F.size(words), F.lit(1))
            ).cast("double"),
        )
    )


def quality_score(
    df: DataFrame, text_col: str, output_col: str = "quality", model_factory=None
) -> DataFrame:
    """Heuristic [0,1] quality score: penalizes extreme length, high
    punctuation/digit density, and low stopword ratio — the standard cheap
    pre-filter shape for web-scale corpus cleaning.

    ``model_factory`` plugs a trained quality classifier instead (returns
    ``predict(list[str]) -> list[float]``, instantiated once per worker);
    the heuristic stays the dependency-free default."""
    if model_factory is not None:
        return df.withColumn(
            output_col, _model_udf(model_factory, "double")(F.col(text_col))
        )
    stats = text_stats(df, text_col)
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    words = _words(F.col(text_col))
    stop_ratio = F.size(F.filter(words, lambda w: F.array_contains(sw, w))) / F.greatest(
        F.size(words), F.lit(1)
    )
    len_ok = F.when((F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 5000), 1.0).otherwise(0.3)
    punct_ok = F.when(F.col("punct_ratio") <= 0.2, 1.0).otherwise(0.4)
    digit_ok = F.when(F.col("digit_ratio") <= 0.3, 1.0).otherwise(0.5)
    stop_ok = F.when(stop_ratio >= 0.05, 1.0).otherwise(0.6)
    return stats.withColumn(
        output_col, (len_ok * punct_ok * digit_ok * stop_ok).cast("double")
    )


def detect_language(
    df: DataFrame, text_col: str, output_col: str = "lang_guess", model_factory=None
) -> DataFrame:
    """Stopword-vote language id over the supported language set; 'und' when
    nothing matches.  Cheap n-gram-free heuristic adequate for routing.

    ``model_factory`` plugs a real language identifier (e.g. fastText
    lid.176: factory loads the model once per worker and returns
    ``predict(list[str]) -> list[str]`` of language codes)."""
    if model_factory is not None:
        return df.withColumn(
            output_col, _model_udf(model_factory, "string")(F.col(text_col))
        )
    words = _words(F.col(text_col))
    scores = []
    for lang, sws in STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in sws])
        score = F.size(F.filter(words, lambda w: F.array_contains(arr, w)))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return df.withColumn(
        output_col,
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_filters(
    df: DataFrame,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    output_col: str = "gopher_pass",
) -> DataFrame:
    """The Gopher corpus quality rules (Rae et al. 2021, Table A1) as pure
    JVM column expressions — the standard published heuristic gate a
    web-scale training pipeline runs before dedup.  Appends one boolean per
    rule plus the conjunction ``gopher_pass``:

    - ``rule_words``:     ``min_words <= n_words <= max_words``
    - ``rule_mean_wl``:   mean word length in [3, 10]
    - ``rule_symbols``:   (# + ellipsis) to word ratio <= 0.1
    - ``rule_bullets``:   <= 90% of lines start with a bullet
    - ``rule_ellipsis``:  <= 30% of lines end with an ellipsis
    - ``rule_alpha``:     >= 80% of words contain an alphabetic char
    - ``rule_stops``:     >= 2 of the paper's 8 stop words appear

    Every ratio test is evaluated in INTEGER arithmetic (e.g. mean word
    length in [3,10] becomes ``3*n_words <= total_chars <= 10*n_words``),
    so the result is bit-exact and reproducible in any SQL engine — no
    float-division drift between Spark and an oracle.  Whole plan is
    codegen (split / filter / aggregate higher-order functions); no UDF,
    no shuffle: at 100 TB this fuses into the scan."""
    t = F.col(text_col)
    words = F.filter(F.split(t, r"\s+"), lambda w: w != "")
    words_lc = _words(t)
    n_words = F.size(words).cast("bigint")
    total_chars = F.aggregate(
        words, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
    )
    n_sym = F.regexp_count(t, F.lit(r"#|…|\.\.\.")).cast("bigint")
    lines = F.split(t, r"\n", -1)
    n_lines = F.size(lines).cast("bigint")
    n_bullet = F.size(
        F.filter(lines, lambda l: l.rlike(r"^[ \t]*[-*•]"))
    ).cast("bigint")
    n_ell = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)[ \t]*$"))
    ).cast("bigint")
    n_alpha = F.size(
        F.filter(words, lambda w: w.rlike(r"[A-Za-z]"))
    ).cast("bigint")
    stop_hits = None
    for w in GOPHER_STOPWORDS:
        hit = F.array_contains(words_lc, w).cast("int")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    rules = {
        "rule_words": (n_words >= min_words) & (n_words <= max_words),
        "rule_mean_wl": (F.lit(3) * n_words <= total_chars)
        & (total_chars <= F.lit(10) * n_words),
        "rule_symbols": F.lit(10) * n_sym <= n_words,
        "rule_bullets": F.lit(10) * n_bullet <= F.lit(9) * n_lines,
        "rule_ellipsis": F.lit(10) * n_ell <= F.lit(3) * n_lines,
        "rule_alpha": F.lit(5) * n_alpha >= F.lit(4) * n_words,
        "rule_stops": stop_hits >= 2,
    }
    out = df.withColumn("n_words", n_words)
    for name, expr in rules.items():
        out = out.withColumn(name, expr)
    gate = None
    for name in rules:
        gate = F.col(name) if gate is None else gate & F.col(name)
    return out.withColumn(output_col, gate)


def word_ngrams(text: Column, n: int) -> Column:
    """Array of space-joined word ``n``-grams of the lowercased text (empty
    when the text has fewer than ``n`` words).  Pure array expression.

    Built as a ``zip_with`` chain over ``n`` shifted slices rather than a
    ``transform`` whose lambda slices the word array: higher-order
    functions are interpreted (CodegenFallback) and re-evaluate
    non-attribute outer expressions per element, so the old
    slice-inside-lambda form re-tokenized the text once per gram —
    O(n_words x |text|) regex work per document.  ``zip_with`` arguments
    are evaluated once per row, so this form is O(n x |text|)."""
    words = _words(text)
    acc = F.slice(words, 1, F.size(words) - n + 1)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(words, 1 + j, F.size(words) - n + 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(F.size(words) >= n, acc).otherwise(
        F.array().cast("array<string>")
    )


def repetition_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ngram_n: int = 2,
) -> DataFrame:
    """Within-document repetition signals in the style of the Gopher data
    rules (Rae et al. 2021, appendix A1) — the standard cheap filters for
    boilerplate/spam in web-scale corpora:

    - ``dup_line_frac``: fraction of (trimmed, non-blank) lines that are
      repeats of an earlier line, ``1 - distinct/total``.
    - ``dup_line_char_frac``: fraction of line characters inside those
      repeated occurrences, ``1 - distinct_chars/total_chars``.
    - ``top_ngram_char_frac``: fraction of word characters covered by the
      single most frequent word ``ngram_n``-gram (count × gram chars /
      total word chars); ties break toward the lexically greatest gram.

    Physical shape: the line metrics are pure array expressions (no
    shuffle, whole-stage codegen).  The n-gram mode genuinely needs
    per-(doc, gram) counts, so it explodes grams and aggregates twice,
    both shuffles keyed by the document id — skew-free even when one gram
    dominates globally, because the key includes the doc.  A left join
    (unique id on both sides) re-attaches short documents that produce no
    n-grams.
    """
    if ngram_n < 1:
        raise ValueError(f"ngram_n must be >= 1, got {ngram_n}")
    t = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(t, r"\n"), lambda x: F.trim(x)), lambda x: x != ""
    )
    dlines = F.array_distinct(lines)
    n_lines = F.size(lines)
    chars = lambda arr: F.aggregate(  # noqa: E731 — local expression helper
        arr, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    safe = lambda c: F.greatest(c, F.lit(1)).cast("double")  # noqa: E731
    nonzero = n_lines > 0
    base = df.select(
        F.col(id_col),
        F.when(nonzero, F.lit(1.0) - F.size(dlines) / safe(n_lines))
        .otherwise(0.0)
        .alias("dup_line_frac"),
        F.when(nonzero, F.lit(1.0) - chars(dlines) / safe(chars(lines)))
        .otherwise(0.0)
        .alias("dup_line_char_frac"),
        chars(_words(t)).alias("__word_chars"),
    )
    per_gram = (
        df.select(F.col(id_col), F.explode(word_ngrams(t, ngram_n)).alias("__gram"))
        .groupBy(id_col, "__gram")
        .count()
    )
    top = per_gram.groupBy(id_col).agg(
        F.max(F.struct(F.col("count"), F.col("__gram"))).alias("__top")
    )
    out = base.join(top, id_col, "left")
    top_chars = F.col("__top.count") * F.length(
        F.regexp_replace(F.col("__top.__gram"), " ", "")
    )
    return out.select(
        id_col,
        "dup_line_frac",
        "dup_line_char_frac",
        F.coalesce(top_chars / safe(F.col("__word_chars")), F.lit(0.0)).alias(
            "top_ngram_char_frac"
        ),
    )


#: conservative, engine-portable PII patterns (valid in both Java regex and
#: RE2): applied in declaration order — emails first so their host parts
#: are gone before the IP pass.  The IP pattern does not range-check
#: octets (999.1.1.1 redacts too — over-redaction is the safe direction
#: for a training-corpus scrubber).
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    (
        "phone",
        r"(?:\+?[0-9]{1,2}[ .-]?)?(?:\([0-9]{3}\)[ .-]?|[0-9]{3}[ .-])[0-9]{3}[ .-][0-9]{4}",
        "<PHONE>",
    ),
)


def scrub_pii(
    df: DataFrame,
    text_col: str,
    output_col: str | None = None,
    flag_col: str = "pii_found",
) -> DataFrame:
    """Redact emails, IPv4 addresses, and phone numbers with typed
    placeholders, plus a ``pii_found`` flag — the standard pre-training
    scrub pass.  Chained JVM ``regexp_replace`` (whole-stage codegen, no
    shuffle, no Python), and every pattern is portable between Java regex
    and RE2, so ANSI engines reproduce the scrubbed text byte-for-byte
    (the oracle row pins this).  ``output_col`` defaults to replacing
    ``text_col`` in place."""
    out = output_col or text_col
    expr = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        expr = F.regexp_replace(expr, pat, repl)
    return (
        df.withColumn("__scrubbed", expr)
        .withColumn(
            # NULL text scrubs to NULL; without the coalesce the flag would
            # be NULL (NULL != NULL) and downstream filters on either
            # polarity would silently drop those rows
            flag_col,
            F.coalesce(F.col("__scrubbed") != F.col(text_col), F.lit(False)),
        )
        .drop(out)
        .withColumnRenamed("__scrubbed", out)
    )


def document_frequency(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Corpus document frequency: one row per distinct word with the count
    of documents containing it — the vocabulary-statistics primitive under
    IDF weighting, stopword discovery, and vocab pruning.

    Shape: explode distinct words per doc (``array_distinct`` BEFORE the
    explode, so a word repeated in one doc ships once), then one partially-
    aggregated count keyed by word.  Hot words (``the``) are exactly the
    pre-aggregated case: each map task emits one partial count per word.
    """
    words = F.explode(F.array_distinct(_words(F.col(text_col)))).alias("word")
    return (
        df.select(F.col(id_col), words)
        .groupBy("word")
        .agg(F.count("*").alias("df"))
    )


def tf_idf_top_terms(
    df: DataFrame,
    text_col: str,
    id_col: str,
    top_k: int = 5,
) -> DataFrame:
    """Top ``top_k`` TF-IDF terms per document: ``tf * (ln((N+1)/(df+1)) + 1)``
    (smoothed IDF), ties broken by word ascending — fully deterministic, and
    the double math reproduces bit-for-bit in any IEEE SQL engine.

    Physical shape: one explode + per-(doc, word) count (shuffle keyed by
    doc+word — skew-free), one word-keyed document-frequency aggregate
    (map-side combined), a join keyed by word (AQE skew-join splits the
    stop-word keys if they dominate), and a per-doc top-k window.  N is
    computed inside the plan (scalar aggregate), not collected.
    """
    from pyspark.sql.window import Window

    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    pairs = df.select(
        F.col(id_col), F.explode(_words(F.col(text_col))).alias("word")
    )
    tf = pairs.groupBy(id_col, "word").agg(F.count("*").alias("tf"))
    dfreq = document_frequency(df, text_col, id_col)
    n_docs = df.select(F.count("*").alias("__n"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tf_idf",
            F.col("tf")
            * (F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)) + F.lit(1.0)),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tf_idf"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "word", "tf", "df", "tf_idf", "rank")
    )


def doc_fingerprint(df: DataFrame, text_col: str, output_col: str = "fingerprint") -> DataFrame:
    """Order-insensitive 64-bit content fingerprint: XOR of the token-set
    hashes (stable under token reordering and duplication)."""
    words = F.array_distinct(_words(F.col(text_col)))
    fp = F.aggregate(
        words,
        F.lit(0).cast("bigint"),
        lambda acc, w: acc.bitwiseXOR(F.xxhash64(w)),
    )
    return df.withColumn(output_col, fp)


def url_parts(df: DataFrame, url_col: str) -> DataFrame:
    """Append ``url_host / url_domain / url_path`` parsed from a URL column
    — pure JVM ``parse_url`` expressions (codegen, no shuffle).
    ``url_domain`` is the last-two-labels approximation of the registered
    domain (a full public-suffix list is a data file, not an algorithm;
    plug one via a join when available)."""
    host = F.parse_url(F.col(url_col), F.lit("HOST"))
    labels = F.split(host, r"\.")
    n = F.size(labels)
    domain = F.when(
        n >= 2,
        F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1)),
    ).otherwise(host)
    return (
        df.withColumn("url_host", host)
        .withColumn("url_domain", domain)
        .withColumn("url_path", F.parse_url(F.col(url_col), F.lit("PATH")))
    )


def cap_per_domain(
    df: DataFrame, url_col: str, key_col: str, k: int, seed: int = 0
) -> DataFrame:
    """Web-corpus domain capping: keep at most ``k`` deterministic
    content-hash-sampled rows per registered domain (the C4/RefinedWeb
    anti-SEO-farm pass) — :func:`url_parts` + the grouped bottom-k
    sampler, so one group-keyed shuffle total."""
    from poppy_spark.spark.sampling import grouped_bottom_k

    parts = url_parts(df, url_col)
    return grouped_bottom_k(parts, key_col, "url_domain", k, seed=seed)


def compression_ratio(
    df: DataFrame,
    text_col: str,
    output_col: str = "comp_ratio",
    level: int = 6,
) -> DataFrame:
    """Append ``output_col`` = zlib-compressed bytes / raw UTF-8 bytes — the
    compression-ratio quality signal real corpus pipelines (CCNet, Dolma)
    run beside Gopher rules: machine-generated/repetitive documents
    compress an order of magnitude better than natural prose (measured on
    the test corpus: boilerplate ~0.01 vs natural 0.40-1.0; short strings
    can exceed 1.0 from the zlib header — callers threshold on the LOW
    side).  NULL text stays NULL; empty text maps to NULL (no signal).

    One Arrow-batched pandas UDF (zlib is C-speed per string), no shuffle —
    a scan-speed projection at 100 TB like the other quality columns."""
    import zlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not 1 <= level <= 9:
        raise ValueError(f"zlib level must be in 1..9, got {level}")

    def ratio(s):
        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return None
            return len(zlib.compress(b, level)) / len(b)

        return s.map(one)

    # real-type annotations: `from __future__ import annotations` stringifies
    # inline ones, which pandas_udf rejects
    ratio.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return df.withColumn(output_col, pandas_udf(ratio, "double")(F.col(text_col)))


#: the HTML-strip regexp chain, applied in order.  Every pattern is valid
#: and byte-equivalent in BOTH Java regex (Spark) and RE2 (DuckDB) — no
#: lookaround, lazy quantifiers and inline (?is) flags only — so the
#: oracle replays the identical chain (parity pinned by fixtures).
HTML_STRIP_STEPS: tuple = (
    (r"(?is)<(script|style)[^>]*>.*?</(script|style)\s*>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?i)<(br|hr)\s*/?>|</(p|div|li|tr|h1|h2|h3|h4|h5|h6)\s*>", "\n"),
    (r"(?s)<[^>]*>", " "),
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&amp;", "&"),
    (r"[ \t]+", " "),
)


def strip_html(
    df: DataFrame,
    text_col: str,
    output_col: str | None = None,
    full_entities: bool = False,
) -> DataFrame:
    """Markup removal — the step before every other text operator in a web
    corpus pipeline: drop ``<script>``/``<style>`` payloads and comments,
    turn block-closers and ``<br>`` into newlines (so line-level dedup
    still sees document structure), strip remaining tags, decode the six
    ubiquitous entities, and collapse space runs.

    Pure codegen ``regexp_replace`` chain (:data:`HTML_STRIP_STEPS`) —
    scan-speed, no shuffle, no Python — and byte-reproducible in DuckDB,
    so it composes into TRUE-value oracles like the rest of the cleaning
    pass.  ``full_entities=True`` adds one Arrow-batched pandas UDF
    running stdlib ``html.unescape`` for the long tail of named/numeric
    entities (Python-path; pytest-pinned, not SQL-replicable).  This is a
    deliberately simple extractor (tags in attribute values or broken
    markup can survive), not a DOM parser — the usual trade at corpus
    scale."""
    out = output_col or text_col
    col = F.col(text_col)
    for pat, rep in HTML_STRIP_STEPS:
        col = F.regexp_replace(col, pat, rep)
    # full-whitespace end-strip (F.trim strips spaces only; block-closer
    # newlines would survive at the edges) — same pattern in both engines
    col = F.regexp_replace(col, r"^\s+|\s+$", "")
    if full_entities:
        import html as _html

        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def unesc(s):
            return s.map(lambda t: None if t is None else _html.unescape(t))

        unesc.__annotations__ = {"s": pd.Series, "return": pd.Series}
        col = pandas_udf(unesc, "string")(col)
    return df.withColumn(out, col)
