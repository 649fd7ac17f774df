"""The sorted-segment fold behind every grouped state merge
(``agg.fold_groups``): runs that span Arrow batch boundaries, multi-column
and temporal keys, NULL/NaN keys, empty partitions, dropped groups — plus a
source guard pinning the one-shape rule."""

import ast
import math
import pathlib
import re

import pyarrow as pa
import pyarrow.compute as pc
import pytest

from pyspark.sql import functions as F

from poppy_spark.spark.agg import _run_starts, fold_groups

SPARK_DIR = pathlib.Path(__file__).resolve().parent.parent / "poppy_spark" / "spark"


@pytest.fixture(scope="module")
def small_batches(spark):
    """Three-row Arrow batches, so every non-trivial group spans batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    yield spark
    spark.conf.set(key, prev)


def _count_fold(df, keys, keep=lambda n: True):
    """Per group: rows, sum of ``v`` and the number of ``add`` slices."""

    def add(acc, b, lo, hi):
        acc[0] += hi - lo
        acc[1] += pc.sum(b.column("v").slice(lo, hi - lo)).as_py() or 0
        acc[2] += 1

    def emit(acc):
        return tuple(acc) if keep(acc[0]) else None

    schema = "n long, total long, slices long"
    folded = fold_groups(df, keys, schema, lambda head: [0, 0, 0], add, emit)
    # the key columns come first, with the frame's types
    assert folded.schema.fields[: len(keys)] == [df.schema[k] for k in keys]
    assert folded.columns[len(keys) :] == ["n", "total", "slices"]
    return folded


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _by_key(rows, keys, cols):
    out = {}
    for r in rows:
        k = tuple(_norm(r[c]) for c in keys)
        assert k not in out, f"group {k} emitted twice"
        out[k] = tuple(r[c] for c in cols)
    return out


def _assert_matches_group_by(df, keys, folded):
    exact = df.groupBy(*keys).agg(F.count("*").alias("n"), F.sum("v").alias("total"))
    got = _by_key(folded.collect(), keys, ("n", "total"))
    assert got == _by_key(exact.collect(), keys, ("n", "total"))
    return got


class TestRunStarts:
    def test_nan_and_null_runs(self):
        nan = float("nan")
        a = pa.array([1.0, 1.0, nan, nan, None, None, 2.0])
        assert _run_starts([a], 7).tolist() == [0, 2, 4, 6]
        b = pa.array(["x", "x", "x", "y", None, None, None])
        assert _run_starts([a, b], 7).tolist() == [0, 2, 3, 4, 6]

    def test_no_key_columns_is_one_run(self):
        assert _run_starts([], 5).tolist() == [0]


class TestFoldGroups:
    def test_group_larger_than_a_batch(self, small_batches):
        spark = small_batches
        df = spark.range(0, 60).select(
            F.when(F.col("id") < 40, F.lit("hot")).otherwise(F.format_string("k%d", "id")).alias("g"),
            F.col("id").alias("v"),
        )
        folded = _count_fold(df, ["g"])
        got = _assert_matches_group_by(df, ["g"], folded)
        assert got[("hot",)] == (40, sum(range(40)))
        slices = {r["g"]: r["slices"] for r in folded.collect()}
        assert slices["hot"] >= 40 // 3

    def test_multi_column_keys(self, small_batches):
        spark = small_batches
        df = spark.range(0, 90).select(
            (F.col("id") % 3).cast("int").alias("a"),
            F.format_string("b%d", F.col("id") % 5).alias("b"),
            F.col("id").alias("v"),
        )
        got = _assert_matches_group_by(df, ["a", "b"], _count_fold(df, ["a", "b"]))
        assert len(got) == 15

    def test_date_and_timestamp_keys(self, small_batches):
        spark = small_batches
        df = spark.range(0, 50).select(
            F.to_date(F.timestamp_seconds(F.col("id") % 4 * 86400)).alias("d"),
            F.timestamp_seconds(F.col("id") % 3 * 3600).alias("ts"),
            F.col("id").alias("v"),
        )
        got = _assert_matches_group_by(df, ["d", "ts"], _count_fold(df, ["d", "ts"]))
        assert len(got) == 12

    def test_null_and_nan_keys(self, small_batches):
        spark = small_batches
        df = spark.range(0, 40).select(
            F.when(F.col("id") % 4 == 0, F.lit(float("nan")))
            .when(F.col("id") % 4 == 1, F.lit(None).cast("double"))
            .otherwise((F.col("id") % 2).cast("double"))
            .alias("x"),
            F.when(F.col("id") % 5 == 0, F.lit(None).cast("string"))
            .otherwise(F.lit("s"))
            .alias("s"),
            F.col("id").alias("v"),
        )
        got = _assert_matches_group_by(df, ["x"], _count_fold(df, ["x"]))
        assert set(got) == {("NaN",), (None,), (0.0,), (1.0,)}
        _assert_matches_group_by(df, ["x", "s"], _count_fold(df, ["x", "s"]))

    def test_empty_partitions(self, small_batches):
        spark = small_batches
        df = spark.range(0, 20).select(
            (F.col("id") % 2).alias("g"), F.col("id").alias("v")
        )
        # two groups over the shuffle's partitions: most fold tasks see nothing
        _assert_matches_group_by(df, ["g"], _count_fold(df, ["g"]))
        assert _count_fold(df.filter("v < 0"), ["g"]).count() == 0
        assert _count_fold(df.filter("v < 0"), []).count() == 0
        whole = _count_fold(df, []).collect()
        assert [(r["n"], r["total"]) for r in whole] == [(20, sum(range(20)))]

    def test_emit_none_drops_group(self, small_batches):
        spark = small_batches
        df = spark.range(0, 30).select(
            (F.col("id") % 5).alias("g"), F.col("id").alias("v")
        )
        df = df.filter((F.col("g") != 0) | (F.col("v") < 10))  # group 0 has 2 rows
        folded = _count_fold(df, ["g"], keep=lambda n: n > 2)
        assert sorted(r["g"] for r in folded.collect()) == [1, 2, 3, 4]

    def test_start_gets_the_arrow_head_row(self, small_batches):
        """``start(head)``: ``head = (heads, j)``, the run's key values as
        row ``j`` of Arrow arrays, one per key column."""
        spark = small_batches
        df = spark.range(0, 30).select(
            F.format_string("g%d", F.col("id") % 4).alias("g"),
            (F.col("id") % 2).alias("h"),
            F.col("id").alias("v"),
        )

        def start(head):
            heads, j = head
            return f"{heads[0][j].as_py()}/{heads[1][j].as_py()}"

        folded = fold_groups(df, ["g", "h"], "seen string", start, lambda *_: None, lambda acc: (acc,))
        got = sorted((f"{r['g']}/{r['h']}", r["seen"]) for r in folded.collect())
        assert got == [(k, k) for k in sorted(f"g{i}/{i % 2}" for i in range(4))]


class _Sites(ast.NodeVisitor):
    """Enclosing class/function path of every ``.<attr>(`` call that
    ``where(call node)`` accepts."""

    def __init__(self, attr, where=lambda call: True):
        self.attr, self.where, self.path, self.sites = attr, where, [], []

    def _scope(self, node):
        self.path.append(node.name)
        self.generic_visit(node)
        self.path.pop()

    visit_ClassDef = visit_FunctionDef = _scope

    def visit_Call(self, node):
        f = node.func
        if getattr(f, "attr", None) == self.attr or getattr(f, "id", None) == self.attr:
            if self.where(node):
                self.sites.append(".".join(self.path))
        self.generic_visit(node)


def _call_sites(attr):
    """``module:scope`` of every ``<attr>(`` or ``.<attr>(`` call in
    ``poppy_spark/spark``."""
    sites = []
    for p in sorted(SPARK_DIR.glob("*.py")):
        src = p.read_text()
        v = _Sites(attr)
        v.visit(ast.parse(src))
        # every textual call site is one the AST walk attributed
        assert src.count(f"{attr}(") - src.count(f"def {attr}(") == len(v.sites), p.name
        sites += [f"{p.name}:{s}" for s in v.sites]
    return sorted(sites)


class TestOneShapeGuard:
    def test_apply_in_pandas_sites(self):
        """Grouped state merges go through ``fold_groups``; ``applyInPandas``
        stays only where per-group compute IS the algorithm (bin packing,
        per-cell similarity edges)."""
        assert _call_sites("applyInPandas") == [
            "packing.py:pack_assignments",
            "similarity.py:_cell_edges",
        ]

    def test_one_shard_probe(self):
        """Both sharded filters probe through ``_shard_probe``, with no
        cogroup and no row id to join hits back on."""
        assert _call_sites("applyInArrow") == []
        src = (SPARK_DIR / "sharded.py").read_text()
        assert "localCheckpoint" not in src
        assert "monotonically_increasing_id" not in src

    def test_one_shuffle_probe(self):
        """Every shuffle probe is the one sorted run walker
        ``agg.probe_runs`` (no cogroup: :meth:`test_one_shard_probe`), and
        no all-column ``mapInArrow`` in ``probe.py`` carries payload
        through Python."""
        assert "mapInArrow(" not in (SPARK_DIR / "probe.py").read_text()
        assert _call_sites("probe_runs") == [
            "probe.py:bloom_contains_grouped_join",
            "sharded.py:_shard_probe",
        ]

    def test_nan_key_defined_once(self):
        pkg = SPARK_DIR.parent
        defs = [
            (p.name, m.group(0))
            for p in sorted(pkg.rglob("*.py"))
            for m in re.finditer(r"def _?nan_key\b|\b_?nan_key\s*=[^=]", p.read_text())
        ]
        assert len(defs) == 1, defs

    def test_int_mode_defined_once(self):
        pkg = SPARK_DIR.parent
        defs = [
            p.name
            for p in sorted(pkg.rglob("*.py"))
            for _ in re.finditer(r"\b_INT_MODE\s*=[^=]", p.read_text())
        ]
        assert defs == ["base.py"], defs

    def test_one_sharded_bloom_type(self):
        """Flat and per-group sharded filters are one type: one filter
        class (beside the stream sink), one build (the index-phase
        ``mapInArrow``), one sizing, one shard-estimate UDF."""
        src = (SPARK_DIR / "sharded.py").read_text()
        tree = ast.parse(src)
        public = [
            n.name for n in ast.walk(tree)
            if isinstance(n, ast.ClassDef) and not n.name.startswith("_")
        ]
        assert public == ["ShardedBloom", "ShardedBloomStream"]
        sites = [s for s in _call_sites("mapInArrow") if s.startswith("sharded.py:")]
        assert sites == ["sharded.py:_build"]
        sizing = re.compile(r"/\s*target_shard_bytes")
        make = next(
            n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name == "make"
        )
        assert len(sizing.findall(src)) == 1
        assert sizing.search(ast.get_source_segment(src, make))
        assert src.count("pandas_udf(") == 1
        assert src.count("_sum_bucket_estimates(") == 1

    def test_one_partition_update(self):
        """Every per-partition sketch update (flat, grouped, profile,
        checkpoint) is ``agg._partition_update``: its ``_absorb`` is the one
        ``update_arrow`` site beside the streaming state-store function,
        which updates one stored state per group per trigger."""
        from poppy_spark.spark import agg

        assert not hasattr(agg, "_update_fn")
        assert not any("_update_fn" in p.read_text() for p in SPARK_DIR.glob("*.py"))
        assert _call_sites("update_arrow") == [
            "agg.py:_absorb",
            "streaming.py:stateful_grouped_sketch.fn",
        ]
        # the grouped ``rows`` shape passes ``_absorb`` to ``fold_groups``
        assert _call_sites("_absorb") == ["agg.py:_partition_update"]
        assert _call_sites("_partition_update") == [
            "agg.py:_update_states.update",
            "checkpoint.py:SketchCheckpoint.build.update",
        ]
        assert _call_sites("batch_context") == [
            "agg.py:_partition_update",
            "agg.py:build_sketch_grouped.keyed_view",
        ]

    def test_one_state_layout(self):
        """Group keys stay in Arrow: ``_update_states`` emits one fixed
        layout (no per-caller ``schema``/``row`` pair), no verb rebuilds a
        grouped output schema, the broadcast grouped probe is an Arrow UDF,
        and shard bits are addressed only through ``core/statekern.py``."""
        import inspect

        from poppy_spark.spark import agg, sharded

        params = inspect.signature(agg._update_states).parameters
        assert "row" not in params and "schema" not in params
        assert not hasattr(agg, "_grouped_schema")
        for name in ("_state_schema", "_bit_parts", "_or_bits_into"):
            assert not hasattr(sharded, name), name
        pkg = SPARK_DIR.parent
        readers = [
            p.relative_to(pkg).as_posix()
            for p in sorted(pkg.rglob("*.py"))
            if "U32_BYTES_LIMIT" in p.read_text()
        ]
        assert readers == ["core/statekern.py"]
        assert "pandas_udf(" not in (SPARK_DIR / "probe.py").read_text()

    def test_cache_owners(self):
        """Every cache a verb makes ends inside that verb (or with the
        object it returns): ``.persist(`` only where an owner releases it,
        the three scoped owners in a ``finally``.  Reused exchanges cover the
        other re-reads (tests/test_verb_caches.py)."""
        sites, trees = [], {}
        for p in sorted(SPARK_DIR.glob("*.py")):
            src = p.read_text()
            assert ".cache()" not in src, p.name
            v = _Sites("persist")
            v.visit(trees.setdefault(p.name, ast.parse(src)))
            assert src.count(".persist(") == len(v.sites), p.name
            sites += [f"{p.name}:{s}" for s in v.sites]
        assert sorted(sites) == [
            "decontam.py:contamination_flags",
            "dedup.py:duplicate_components",
            "sharded.py:_build",  # released by ShardedBloom.unpersist()
            "streaming.py:BloomStreamDedup._rows",
        ]

        def releases_in_finally(tree, *path):
            node = tree
            for name in path:
                node = next(
                    n for n in ast.walk(node)
                    if isinstance(n, (ast.ClassDef, ast.FunctionDef)) and n.name == name
                )
            return any(
                isinstance(c, ast.Call) and getattr(c.func, "attr", None) == "unpersist"
                for t in ast.walk(node) if isinstance(t, ast.Try)
                for stmt in t.finalbody for c in ast.walk(stmt)
            )

        assert releases_in_finally(trees["decontam.py"], "contamination_flags")
        assert releases_in_finally(trees["dedup.py"], "duplicate_components")
        assert releases_in_finally(trees["streaming.py"], "BloomStreamDedup", "_rows")

    def test_one_stream_sink(self):
        """One micro-batch sketch sink: ``BloomStreamDedup`` is a
        ``StreamingSketch`` that adds only its gate, one batch-id state
        header is packed, and one helper writes state files through a
        temp file and a rename."""
        from poppy_spark.spark.streaming import BloomStreamDedup, StreamingSketch

        assert issubclass(BloomStreamDedup, StreamingSketch)
        assert not {"__call__", "_load", "current"} & set(vars(BloomStreamDedup))

        def sites(needle, owner, attr, *args):
            """Scopes of ``<owner>.<attr>(*args, ...`` calls in the package;
            every textual ``needle`` is one of them."""

            def where(call):
                head = [getattr(x, "value", None) for x in call.args[: len(args)]]
                on = getattr(getattr(call.func, "value", None), "id", None)
                return on == owner and head == list(args)

            found = []
            for p in sorted(SPARK_DIR.parent.rglob("*.py")):
                src = p.read_text()
                v = _Sites(attr, where)
                v.visit(ast.parse(src))
                assert src.count(needle) == len(v.sites), p.name
                found += [f"{p.name}:{s}" for s in v.sites]
            return found

        assert sites('struct.pack("<q"', "struct", "pack", "<q") == [
            "streaming.py:StreamingSketch.__call__"
        ]
        assert sites("os.replace(", "os", "replace") == [
            "checkpoint.py:_write_atomic",
            "sharded.py:ShardedBloomStream.compact",
        ]

    def test_one_spread_guard(self):
        """One helper spreads low-split inputs over the cores and reads the
        partition count; verbs take the count from it."""
        assert _call_sites("getNumPartitions") == ["agg.py:_spread"]

    def test_one_similarity_shape(self):
        """Each job the similarity verbs share has one helper: the
        normalized frame, cell assignment, per-query top-k, training
        sample, hyperplane bucket stream, banded self-join and ADC scorer.
        The corpus dimension is read once, from the first non-NULL vector."""
        from poppy_spark.spark import similarity

        def sites(module, attr):
            v = _Sites(attr)
            v.visit(ast.parse((SPARK_DIR / module).read_text()))
            return sorted(v.sites)

        sim = "similarity.py"
        # pq_encode normalizes without spreading: callers cache its codes
        assert sites(sim, "with_normalized") == ["_frame", "pq_encode"]
        assert sites(sim, "_spread") == ["_frame"]
        assert sites(sim, "_ivf_cells_udf") == ["_with_cells", "_with_cells"]
        assert (SPARK_DIR / sim).read_text().count("broadcast(centroids.T") == 1
        assert sites(sim, "row_number") == ["_top_k"]
        assert sites(sim, "_top_k") == [
            "_adc_topk", "cosine_topk", "ivf_topk", "lsh_topk",
        ]
        assert sites(sim, "md5") == ["_thin_hot_cells", "_training_sample"]
        assert sites(sim, "_training_sample") == ["ivf_train_centroids", "pq_train_codebooks"]
        assert sites(sim, "lsh_bucket") == sites(sim, "_hyperplanes") == ["_bucket_stream"]
        assert sites(sim, "_bucket_stream") == [
            "cosine_near_dup_pairs", "lsh_topk", "lsh_topk",
        ]
        assert sites(sim, "_dim") == ["cosine_near_dup_pairs", "lsh_topk"]
        assert sites(sim, "first") == ["_dim"]
        assert sites("dedup.py", "_cap_buckets") == ["_banded_self_join"]
        assert _call_sites("_banded_self_join") == [
            "dedup.py:lsh_candidate_pairs",
            "dedup.py:signature_near_pairs",
            "similarity.py:cosine_near_dup_pairs",
        ]
        assert sites(sim, "mapInPandas") == ["_adc_topk"]
        assert sites(sim, "_adc_topk") == ["ivfpq_topk", "pq_topk"]
        assert not hasattr(similarity, "_norm")
