"""Deterministic replicas of an sf directory at any factor.

No sf1 (or larger) testdata exists in the sandbox, so scale evidence runs
on replicas of a base sf directory (``SPARK_GRAFT_SF_DIR``, default
``/root/testdata/sf0.1``).  ``python bench/synth.py WORK FACTOR`` writes:

* ``events``, ``orders``, ``lineitem``: FACTOR replicas, replica ``r``
  shifting ``event_id``/``o_orderkey``/``l_orderkey`` by ``r * OFF``.  The
  order and lineitem keys shift together, so their join stays consistent;
  foreign keys into the 1x dimension tables (custkey/partkey/suppkey) are
  left untouched, so dimension joins stay valid.
* ``region``, ``nation``, ``customer``, ``supplier``, ``part`` and
  ``embeddings``: copied at 1x.  The similarity rows' oracles are exact
  quadratic SQL, whose cost at FACTOR x would be oracle-side, and
  identical-vector replicas would turn the ANN rows into a duplicate
  stress.
* ``documents``: the ``distinct`` variant below; every other variant in
  ``WORK/<variant>/``, an sf directory whose other tables link to WORK's.
* ``_SYNTH.json``: base, factor, seconds taken and each table's rows.

Documents variants (replica ``r`` shifts ``doc_id`` by ``r * OFF`` in
each; ``n_chars`` is the text's length):

* ``distinct``: replica ``r`` opens with the line ``replica r{r} header
  line``, so every text is distinct (full FACTOR x text cardinality; the
  header lines are hot line-dedup digests, the planted-skew shape).
* ``copies``: exact copies.  ``corpus_clean_pipeline``'s quadratic
  near-dup oracle stays feasible because its exact-dedup front end
  collapses the replicas.
* ``guards``: replica ``r > 0`` permutes each document's words (sorted by
  ``xxhash64(r, doc_id, word)``; the doc_id term matters, as a
  document-independent order would canonicalize word order and make docs
  sharing vocabulary more similar).  Replicas are genuinely dissimilar,
  so ``dedup_guards``' recall gates keep their premise: organic near-dup
  families stay under the LSH bucket cap, where any similarity-preserving
  replication plants a FACTOR-member family around every document.
* ``corpus``: a bijection on the vocabulary per replica (words other than
  stopwords get the suffix ``r{r}``, replica 0 included), so within a
  replica the similarity structure equals the base corpus and across
  replicas the shingle overlap is about zero, like distinct crawl
  segments.  ``bench_extra.py corpus_pipeline`` over ``WORK/corpus``
  plants its exact (+1M) and near (+2M) copies per replica.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from functools import reduce

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: id shift per replica; every shifted id of the base must stay below it
OFF = 10_000_000
#: per-table id columns shifted per replica (join-consistent)
SHIFT = {
    "events": ["event_id"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
}
COPY_1X = ["region", "nation", "customer", "supplier", "part", "embeddings"]
VARIANTS = ("distinct", "copies", "guards", "corpus")
FILES = 32


def _replicas(src, factor: int, shift_cols: list[str], columns=None):
    """The union of ``factor`` copies of ``src``, copy ``r`` with
    ``shift_cols`` raised by ``r * OFF`` and the columns ``columns(r)``
    returns in place of the same-named source columns."""
    from pyspark.sql import DataFrame, functions as F

    tops = src.agg(*[F.max(c) for c in shift_cols]).first()
    top = max((v for v in tops if v is not None), default=0)
    if top >= OFF:
        raise ValueError(f"ids up to {top} collide across replicas at OFF={OFF}")
    parts = []
    for r in range(factor):
        repl = {c: F.col(c) + F.lit(r * OFF) for c in shift_cols}
        repl.update(columns(r) if columns else {})
        parts.append(src.select(*[repl.get(c, F.col(c)).alias(c) for c in src.columns]))
    return reduce(DataFrame.unionAll, parts)


def _permuted(r: int):
    """Each document's words in ``xxhash64(r, doc_id, word)`` order."""
    from pyspark.sql import functions as F

    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    keyed = F.transform(
        words,
        lambda w: F.struct(
            F.xxhash64(
                F.concat(F.lit(str(r)), F.col("doc_id").cast("string"), F.lit("|"), w)
            ).alias("h"),
            w.alias("w"),
        ),
    )
    return F.concat_ws(" ", F.transform(F.array_sort(keyed), lambda s: s["w"]))


def _tagged(r: int):
    """Each document's normalized words, every non-stopword suffixed ``r{r}``."""
    from pyspark.sql import functions as F

    from poppy_spark.spark.dedup import normalized_words
    from poppy_spark.spark.text import STOPWORDS

    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    tagged = F.transform(
        normalized_words(F.col("text")),
        lambda w: F.when(F.array_contains(sw, w), w).otherwise(F.concat(w, F.lit(f"r{r}"))),
    )
    return F.concat_ws(" ", tagged)


def documents(docs, variant: str, factor: int):
    """The ``variant`` documents table (see the module doc) of ``docs``."""
    from pyspark.sql import functions as F

    text = {
        "distinct": lambda r: F.concat(F.lit(f"replica r{r} header line\n"), F.col("text")),
        "copies": lambda r: F.col("text"),
        "guards": lambda r: _permuted(r) if r else F.col("text"),
        "corpus": _tagged,
    }[variant]
    out = _replicas(docs, factor, ["doc_id"], lambda r: {"text": text(r)})
    return out.withColumn("n_chars", F.length("text"))


def synthesize(spark, base: str, work: str, factor: int) -> dict:
    """Write the FACTOR x replica set of ``base`` under ``work`` and return
    its manifest (also written to ``work/_SYNTH.json``)."""
    t0 = time.perf_counter()
    os.makedirs(work, exist_ok=True)
    for t in COPY_1X:
        src, dst = f"{base}/{t}.parquet", f"{work}/{t}.parquet"
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        (shutil.copytree if os.path.isdir(src) else shutil.copyfile)(src, dst)

    def write(df, path):
        df.repartition(FILES).write.mode("overwrite").parquet(path)

    for t, cols in SHIFT.items():
        src = spark.read.parquet(f"{base}/{t}.parquet")
        write(_replicas(src, factor, cols), f"{work}/{t}.parquet")
    docs = spark.read.parquet(f"{base}/documents.parquet")
    write(documents(docs, "distinct", factor), f"{work}/documents.parquet")
    tables = [*COPY_1X, *SHIFT, "documents"]
    for v in VARIANTS[1:]:
        write(documents(docs, v, factor), f"{work}/{v}/documents.parquet")
        for t in tables[:-1]:
            link = f"{work}/{v}/{t}.parquet"
            if os.path.lexists(link):
                os.remove(link)
            os.symlink(f"../{t}.parquet", link)
    rows = {t: spark.read.parquet(f"{work}/{t}.parquet").count() for t in tables}
    manifest = {
        "base": base,
        "factor": factor,
        "generate_sec": round(time.perf_counter() - t0, 2),
        "rows": rows,
    }
    with open(f"{work}/_SYNTH.json", "w") as fh:
        json.dump(manifest, fh)
    return manifest


def main() -> None:
    from poppy_spark.spark.session import get_spark

    if len(sys.argv) != 3:
        raise SystemExit("usage: python bench/synth.py WORK FACTOR")
    work, factor = sys.argv[1], int(sys.argv[2])
    spark = get_spark("poppy-synth")
    spark.sparkContext.setLogLevel("ERROR")
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    print(json.dumps(synthesize(spark, base, work, factor)))
    spark.stop()


if __name__ == "__main__":
    main()
