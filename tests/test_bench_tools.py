"""The bench/ data tools on the smallest base: bench/synth.py's replica
set and bench/verify.py's oracle verdicts over it."""

import importlib.util
from collections import Counter
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1] / "bench"


def _tool(name):
    # bench/ is not a package (the repo-root bench.py shadows it): by path
    spec = importlib.util.spec_from_file_location(f"_bench_{name}", BENCH / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def synth():
    return _tool("synth")


@pytest.fixture(scope="module")
def work(spark, sf_dir, synth, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("synth"))
    synth.synthesize(spark, sf_dir, out, 2)
    return out


def _ids(spark, path, col):
    return Counter(r[0] for r in spark.read.parquet(path).select(col).collect())


def test_shifted_tables(spark, sf_dir, synth, work):
    """Each shifted table holds its base ids and the same ids + OFF: twice
    the rows, the replicas' ids disjoint."""
    for t, (col,) in synth.SHIFT.items():
        base = _ids(spark, f"{sf_dir}/{t}.parquet", col)
        assert max(base) < synth.OFF
        want = base + Counter({i + synth.OFF: n for i, n in base.items()})
        assert _ids(spark, f"{work}/{t}.parquet", col) == want, t
    for t in synth.COPY_1X:
        copied = (Path(work) / f"{t}.parquet").read_bytes()
        assert copied == (Path(sf_dir) / f"{t}.parquet").read_bytes(), t


def test_lineitem_joins_orders(spark, work):
    li = spark.read.parquet(f"{work}/lineitem.parquet")
    orders = spark.read.parquet(f"{work}/orders.parquet")
    assert li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti").count() == 0


def test_documents_variants(spark, sf_dir, synth, work):
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    for v in synth.VARIANTS:
        path = f"{work}/documents.parquet" if v == "distinct" else f"{work}/{v}/documents.parquet"
        docs = spark.read.parquet(path)
        assert docs.count() == docs.select("doc_id").distinct().count() == 2 * n, v
    # a variant directory is an sf directory: its other tables are WORK's
    assert spark.read.parquet(f"{work}/copies/lineitem.parquet").count() == (
        spark.read.parquet(f"{work}/lineitem.parquet").count()
    )


def test_verify_rows_match(spark, work):
    results = _tool("verify").verify(spark, work, ["bloom_semi_join", "exact_dedup_groups"])
    assert all(r["match"] for r in results.values()), results
