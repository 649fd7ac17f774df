"""The ``queries()`` + ``oracle_sql()`` suite over a ``bench/synth.py``
directory: every driver row and its DuckDB oracle run verbatim, with
per-row wall times and match verdicts (row count, column names and
order-insensitive values, as the driver compares them).

Usage: python bench/verify.py WORK [ROW ...]     (default: all rows)

Each row reads WORK, or the documents variant ``ROW_VARIANT`` names.
Prints one JSON line per row, then the summary line.  The exit code is 1
unless every row matches.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: documents variant per row (see bench/synth.py).  corpus_clean_pipeline
#: -> exact copies: its quadratic near-dup oracle needs the exact-dedup
#: collapse.  dedup_guards -> the word-permuted replicas: its recall gates
#: presuppose organic near-dup families stay under the LSH bucket cap (the
#: cap thinning oversized buckets is itself the hot_bucket behavior under
#: test), and any similarity-preserving replication plants a
#: FACTOR-member family around every base doc, which the cap then
#: legitimately thins.
ROW_VARIANT = {"corpus_clean_pipeline": "copies", "dedup_guards": "guards"}

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(cols, rows):
    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.9g}"
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def verify_row(spark, query, oracle: str, sf_dir: str) -> dict:
    """One row's verdict: ``rows``, ``match`` and both engines' seconds."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = f"{sf_dir}/{t}.parquet"
            pat = f"{path}/*.parquet" if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
        t0 = time.perf_counter()
        df = query(spark, sf_dir)
        got = _canon(list(df.columns), [tuple(r) for r in df.collect()])
        spark_sec = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        res = con.execute(oracle)
        exp = _canon([d[0] for d in res.description], res.fetchall())
        duck_sec = round(time.perf_counter() - t0, 2)
    finally:
        con.close()
    return {
        "rows": len(got[1]), "match": got == exp, "spark_sec": spark_sec, "duckdb_sec": duck_sec,
    }


def verify(spark, work: str, names=()) -> dict[str, dict]:
    """``verify_row`` for each row in ``names`` (default: all); a raising
    row is a red cell (``match`` False with its ``error``), not a crashed
    suite."""
    import __spark_entry__ as entry_mod

    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    names = list(names) or list(queries)
    unknown = set(names) - set(queries)
    if unknown:
        raise SystemExit(f"unknown rows: {sorted(unknown)}")
    results = {}
    for name in names:
        sf_dir = f"{work}/{ROW_VARIANT[name]}" if name in ROW_VARIANT else work
        try:
            results[name] = verify_row(spark, queries[name], oracles[name], sf_dir)
        except Exception as exc:
            results[name] = {"match": False, "error": f"{type(exc).__name__}: {exc}"}
        print(json.dumps({name: results[name]}), flush=True)
    return results


def main() -> int:
    import scaling  # sibling in bench/: the steal stamp
    from poppy_spark.spark.session import get_spark

    if len(sys.argv) < 2:
        raise SystemExit("usage: python bench/verify.py WORK [ROW ...]")
    work, names = sys.argv[1], sys.argv[2:]
    with open(f"{work}/_SYNTH.json") as fh:
        manifest = json.load(fh)
    spark = get_spark("poppy-verify")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    results, steal = scaling.steal_stamped(lambda: verify(spark, work, names), 5)
    spark.stop()
    try:
        with open("/proc/sys/kernel/random/boot_id") as fh:
            boot_id = fh.read().strip()
    except OSError:
        boot_id = None
    ok_all = all(r["match"] for r in results.values())
    print(json.dumps({
        "metric": f"queries()+oracle suite at {manifest['factor']}x {manifest['base']}",
        "n_queries": len(results),
        "n_match": sum(r["match"] for r in results.values()),
        "generate_sec": manifest["generate_sec"],
        "results": results,
        "all_match": ok_all,
        "scales": manifest["rows"],
        "cpus": cpus,
        "boot_id": boot_id,
        "steal": steal,
    }))
    return 0 if ok_all else 1


if __name__ == "__main__":
    sys.exit(main())
