"""poppy_spark — a PySpark-native mergeable-sketch analytics engine.

From-scratch reimplementation of hashlookup/poppy's capabilities
(DCSO/poppy-format Bloom filters: byte-compatible v1/v2 wire formats, FNV-1 /
wyhash pipelines, union/intersection algebra) generalized into a family of
mergeable sketches (HLL, count-min, KLL, t-digest, MinHash) expressed as
two-phase Arrow-vectorized Spark aggregations, plus the corpus operators a
training-data pipeline needs (dedup, text analysis, embedding similarity).

Public surface mirrors the reference Python binding
(``python/src/lib.rs:27-151``): ``load`` / ``loads`` / ``BloomFilter`` —
extended with DataFrame verbs under :mod:`poppy_spark.spark`.
"""

import sys

from .core import (
    BloomFilter,
    InvalidVersion,
    MergeError,
    OptLevel,
    Params,
    PoppyError,
    TooManyEntries,
    WrongFpp,
    load,
    loads,
)
from .sketches import (
    BloomSketch,
    CmsSketch,
    HllSketch,
    KllSketch,
    MinHashSketch,
    Sketch,
    TDigestSketch,
)

__version__ = "0.1.0"

# Every library UDF imports this package when a Spark Python worker
# unpickles it; from then on the worker's per-task import-cache reset costs
# a stat per zip archive instead of a re-parse, and each task start freezes
# the worker's long-lived objects so the after-task gc.collect() skips them
# (see _worker).
if "pyspark" in sys.modules:
    from pyspark.taskcontext import TaskContext

    if TaskContext.get() is not None:
        from ._worker import freeze_at_task_start, install_lazy_zip_invalidation

        install_lazy_zip_invalidation()
        freeze_at_task_start()

__all__ = [
    "BloomFilter",
    "BloomSketch",
    "CmsSketch",
    "HllSketch",
    "InvalidVersion",
    "KllSketch",
    "MergeError",
    "MinHashSketch",
    "OptLevel",
    "Params",
    "PoppyError",
    "Sketch",
    "TDigestSketch",
    "TooManyEntries",
    "WrongFpp",
    "load",
    "loads",
]
