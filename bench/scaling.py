"""N->4N scaling evidence: the identical jobs at two core counts.

No cluster exists in this sandbox, so a family's jobs run at both levels
of each of its N->4N pairs over one dataset of PARTITIONS files, scan
partitions pinned by file splits (MAX_PARTITION_BYTES, core-count
independent: an in-measurement round-robin repartition of the raw text
cost 3x the build itself at 32 cores), best of the family's reps per
level.  The report gives throughput at each level and
``efficiency = (T_low / T_high) / (high / low)`` (1.0 is perfect, the
north rule's target is >= 0.8), appended to BENCH/BASELINE.md.

Families (``python bench/scaling.py FAMILY [n_convs]``):

* ``sketch``: synthetic transcripts (``n_convs`` conversations, 400k by
  default).  ``bloom``: bulk Bloom build over the raw text (poppy
  hashing; the text crosses the JVM->Python Arrow boundary), pinned to
  the states shape; ``sharded``: the bucket-range-sharded Bloom build
  (index-tuple shuffle; per-task memory is its shards' bytes only);
  ``probe``: membership probe of every turn; ``hll``: distinct
  conversations, pre-hashed JVM-side (8 bytes/row cross the boundary).
* ``text``: the ``copies`` documents variant of bench/synth.py at factor
  60 of ``SPARK_GRAFT_SF_DIR`` (fixed overheads would dominate the raw
  rows).  ``tfidf``: per-doc top-3 TF-IDF terms; ``repeat``: Gopher
  repetition signals; ``convdd``: whole-conversation dedup over
  ``doc_id % 20000``; ``wsample``: weighted A-ES sample over the exploded
  word stream; ``spans``: repeated spans, winnowing stride 4 (every doc
  repeats its spans 60x: dense cross-doc mass).

``POPPY_SCALE_DATA`` names the family's dataset path (regenerated on
every run).  bench/submit_scaling.py reuses the transcripts dataset and
the report.
"""

from __future__ import annotations

import json
import os
import sys
import time
from datetime import datetime, timezone
from typing import Callable, NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PARTITIONS = 64
MAX_PARTITION_BYTES = "4m"
TEXT_FACTOR = 60


def best_of(fn, reps: int) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def steal_stamped(fn, probe_sec: float):
    """``(fn(), stamp)``: ``fn`` runs after a hypervisor-steal probe of
    ``SPARK_GRAFT_STEAL_PROBE_SEC`` seconds (default ``probe_sec``); the
    stamp holds the probe's and the run's steal fractions and the
    ``contaminated`` verdict (either past 2%, the protocol that settled the
    round-4 scaling forensics in BENCH/BASELINE.md).  None where
    ``/proc/stat`` is unreadable."""
    import bench  # the repo-root bench.py: its steal readers

    steal = bench.steal_probe(float(os.environ.get("SPARK_GRAFT_STEAL_PROBE_SEC", probe_sec)))
    start = bench._read_steal()
    out = fn()
    end = bench._read_steal()
    if steal is not None and start and end:
        steal["run_steal_jiffies"] = end[0] - start[0]
        steal["run_steal_frac"] = round(steal["run_steal_jiffies"] / max(1, end[1] - start[1]), 5)
        steal["contaminated"] = max(steal["probe_steal_frac"], steal["run_steal_frac"]) > 0.02
    return out, steal


def _transcripts(spark, n_convs: int):
    from poppy_spark.data.transcripts import generate_transcripts

    return generate_transcripts(spark, n_convs=n_convs, partitions=PARTITIONS)


def _documents(spark, _):
    import synth  # sibling in bench/

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return synth.documents(docs, "copies", TEXT_FACTOR).select("doc_id", "text", "n_chars")


def _sketch_jobs(df, n_rows: int) -> dict:
    from pyspark.sql import functions as F

    from poppy_spark.sketches import BloomSketch, HllSketch
    from poppy_spark.spark.agg import build_sketch
    from poppy_spark.spark.probe import bloom_contains
    from poppy_spark.spark.sharded import build_sharded_bloom

    # read straight from parquet each pass: the OS page cache holds the
    # bytes, and Spark's columnar cache adds an expensive cold first pass
    df = df.select("conv_id", "text")
    bloom = BloomSketch.factory(n_rows, 0.001)
    hll = HllSketch.factory(14)
    # warm python workers so we time the aggregation, not interpreter startup
    build_sketch(df.limit(20000), "text", bloom)
    state = build_sketch(df, "text", bloom, strategy="states").dumps()

    def sharded_build():
        sb = build_sharded_bloom(
            df, "text", capacity=n_rows, fpp=0.001, n_shards=32, persist=False
        )
        sb.states.write.format("noop").mode("overwrite").save()

    return {
        # pinned to the states shape: auto would route this filter size
        # through sharded and the row would stop measuring the states shape
        "bloom": lambda: build_sketch(df, "text", bloom, strategy="states"),
        "sharded": sharded_build,
        "probe": lambda: bloom_contains(df, "text", state, "hit")
        .agg(F.sum(F.col("hit").cast("long"))).collect(),
        "hll": lambda: build_sketch(df, "conv_id", hll),
    }


def _text_jobs(df, n_rows: int) -> dict:
    from pyspark.sql import functions as F

    from poppy_spark.spark.dedup import ordered_group_duplicates
    from poppy_spark.spark.sampling import weighted_sample
    from poppy_spark.spark.spans import repeated_spans
    from poppy_spark.spark.text import repetition_stats, tf_idf_top_terms

    df.limit(1000).count()  # warm
    convs = df.select(
        (F.col("doc_id") % 20_000).alias("conv"), F.col("doc_id").alias("idx"), "text"
    )
    # the weighted sample runs over the exploded word stream (tens of
    # millions of rows) so the partial-agg + TakeOrdered path has real mass
    words = df.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
    ).withColumn("w", F.lit(1.0))
    return {
        "tfidf": lambda: tf_idf_top_terms(df, "text", "doc_id", 3).agg(F.count("*")).collect(),
        "repeat": lambda: repetition_stats(df, "text", "doc_id")
        .agg(F.avg("dup_line_frac"), F.avg("top_ngram_char_frac")).collect(),
        "convdd": lambda: ordered_group_duplicates(convs, "conv", "idx", "text").count(),
        "wsample": lambda: weighted_sample(words, "word", "w", 1000).count(),
        "spans": lambda: repeated_spans(
            df, "text", "doc_id", span_words=10, min_docs=2, stride=4
        ).count(),
    }


class Family(NamedTuple):
    frame: Callable  # (spark, n_convs) -> the dataset
    jobs: Callable  # (dataset, n_rows) -> {job: timed callable}
    pairs: list
    reps: int
    unit: str
    data: str  # default dataset path


FAMILIES = {
    "sketch": Family(_transcripts, _sketch_jobs, [(2, 8), (8, 32)], 3, "turns",
                     "/tmp/poppy_scaling_transcripts"),
    "text": Family(_documents, _text_jobs, [(2, 8)], 2, "docs", "/tmp/poppy_scaling_docs"),
}


def data_path(family: str) -> str:
    return os.environ.get("POPPY_SCALE_DATA", FAMILIES[family].data)


def make_dataset(family: str, path: str, n_convs: int) -> int:
    """Write the family's dataset (``n_convs`` sizes the transcripts) to
    ``path`` in PARTITIONS files; its rows."""
    from poppy_spark.spark.session import get_spark

    spark = get_spark(f"poppy-scaling-{family}-gen")
    spark.sparkContext.setLogLevel("ERROR")
    df = FAMILIES[family].frame(spark, n_convs)
    df.repartition(PARTITIONS).write.mode("overwrite").parquet(path)
    n = spark.read.parquet(path).count()
    spark.stop()
    return n


def run_at(family: str, cores: int, path: str, n_rows: int) -> dict:
    """Best-of-reps seconds and M rows/s of each job at ``local[cores]``."""
    from poppy_spark.spark.session import get_spark

    fam = FAMILIES[family]
    spark = get_spark(f"poppy-scaling-{cores}", master=f"local[{cores}]",
                      shuffle_partitions=cores, max_partition_bytes=MAX_PARTITION_BYTES)
    spark.sparkContext.setLogLevel("ERROR")
    timed = fam.jobs(spark.read.parquet(path), n_rows)
    out = {"cores": cores}
    for job, fn in timed.items():
        out[f"{job}_sec"] = round(best_of(fn, fam.reps), 3)
    for job in timed:
        out[f"{job}_M_{fam.unit}_per_sec"] = round(n_rows / out[f"{job}_sec"] / 1e6, 3)
    spark.stop()
    return out


def _row(*cells) -> str:
    return "| " + " | ".join(str(c) for c in cells) + " |"


def report(title: str, intro: str, runs: dict, pairs, unit: str, notes=()) -> dict:
    """Append the throughput and efficiency tables of ``runs`` (level ->
    ``run_at``-shaped dict: ``{job}_sec`` and ``{job}_M_{unit}_per_sec``
    per job) to BENCH/BASELINE.md; the efficiencies."""
    levels, rate = sorted(runs), f"_M_{unit}_per_sec"
    jobs = [k[: -len(rate)] for k in runs[levels[0]] if k.endswith(rate)]
    effs = {
        f"{j}_{lo}to{hi}": round((runs[lo][f"{j}_sec"] / runs[hi][f"{j}_sec"]) / (hi / lo), 3)
        for lo, hi in pairs
        for j in jobs
    }
    lines = [
        f"\n## {title} {datetime.now(timezone.utc).isoformat(timespec='seconds')}",
        "",
        intro,
        "",
        _row("cores", *(f"{j} s" for j in jobs), *(f"{j} M/s" for j in jobs)),
        _row(*["---"] * (1 + 2 * len(jobs))),
        *(
            _row(c, *(runs[c][f"{j}_sec"] for j in jobs), *(runs[c][j + rate] for j in jobs))
            for c in levels
        ),
        "",
        _row("pair", *(f"{j} eff" for j in jobs)),
        _row(*["---"] * (1 + len(jobs))),
        *(_row(f"{lo}->{hi}", *(effs[f"{j}_{lo}to{hi}"] for j in jobs)) for lo, hi in pairs),
        "",
        "Efficiency = (T_low/T_high)/(high/low); target >= 0.8 per the north rule.",
        *notes,
    ]
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
        f.write("\n".join(lines) + "\n")
    return effs


def main() -> None:
    family = sys.argv[1] if len(sys.argv) > 1 else ""
    if family not in FAMILIES:
        raise SystemExit(f"usage: python bench/scaling.py {{{','.join(FAMILIES)}}} [n_convs]")
    fam, path = FAMILIES[family], data_path(family)
    n_rows = make_dataset(family, path, int(sys.argv[2]) if len(sys.argv) > 2 else 400_000)
    levels = sorted({c for pair in fam.pairs for c in pair})
    runs = {c: run_at(family, c, path, n_rows) for c in levels}
    effs = report(
        f"Scaling run ({family})",
        f"Identical jobs over {n_rows:,} {fam.unit}, file-split-pinned scan partitions "
        f"(maxPartitionBytes={MAX_PARTITION_BYTES}), best of {fam.reps} runs per level.",
        runs, fam.pairs, fam.unit,
    )
    print(json.dumps({"n_rows": n_rows, "runs": runs, "efficiency": effs}))


if __name__ == "__main__":
    main()
