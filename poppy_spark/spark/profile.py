"""One-pass data profiling built from the mergeable-sketch family.

``build_sketches_multi`` updates ONE sketch per requested column inside a
single ``mapInArrow`` scan — the package's one per-partition update
(``agg._partition_update``) with N specs and no group columns, dropping
each column's NULLs — so profiling N columns costs one pass over the data
plus one tiny (spec-keyed) state merge, not N passes.  ``profile_table``
layers the standard data-quality report on top: exact row/null counts and
min/max from one JVM aggregate (a second shuffle-free scan), plus HLL
distinct estimates and KLL quantiles from the sketch pass.  Two scans
total for any column count — the shape that survives a 100 TB table.
"""

from __future__ import annotations

from typing import Callable, Mapping

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from poppy_spark.sketches.base import Sketch


def build_sketches_multi(
    df: DataFrame,
    specs: Mapping[str, tuple[str, Callable[[], Sketch]]],
    int_keys: str = "string",
) -> dict[str, tuple[Sketch, int]]:
    """Build one sketch per spec in a SINGLE pass.

    ``specs`` maps an output name to ``(column, factory)``.  Nulls are
    dropped per column before the update (each sketch sees that column's
    non-null values), and the returned dict carries ``(sketch,
    non_null_count)`` per name.  Physical shape: one mapInArrow scan
    emitting one state row per (partition, spec); the merge groups by spec
    — states are KBs, so the collect is O(specs).
    """
    from poppy_spark.spark.agg import (
        _STATE_COLS, _StateMerge, _key_expr, _update_states, fold_groups,
    )

    names = list(specs)
    if not names:
        raise ValueError("specs must name at least one column")
    templates = {name: fac() for name, (_, fac) in specs.items()}
    classes = {name: type(sk) for name, sk in templates.items()}
    # null-preserving key expressions: xxhash64(NULL) is a constant, not
    # NULL, so the prehash path must be gated or nulls would count as one
    # distinct value
    sel = df.select(
        *[
            F.when(
                F.col(col).isNotNull(), _key_expr(df, col, templates[name], int_keys)
            ).alias(name)
            for name, (col, _) in specs.items()
        ]
    )
    states = _update_states(sel, 0, [specs[n][1] for n in names], int_keys, nulls=False)

    def start(head):
        heads, j = head
        return _StateMerge(classes[names[heads[0][j].as_py()]])

    merged = fold_groups(
        states.select("__spec", "state", "n_rows"), ["__spec"], _STATE_COLS,
        start, _StateMerge.add, lambda m: (m.final_state(), m.n_rows),
    )
    rows = ((names[r["__spec"]], r) for r in merged.collect())
    return {n: (classes[n].loads(bytes(r["state"])), int(r["n_rows"])) for n, r in rows}


_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    hll_p: int = 14,
    kll_k: int = 200,
) -> DataFrame:
    """Per-column data-quality profile: exact ``n_rows`` / ``n_nulls`` /
    min/max (numeric as doubles, strings as strings) from one JVM
    aggregate, plus HLL distinct estimates and KLL medians (numeric only)
    from one multi-sketch pass — two scans total regardless of column
    count.

    Returns one row per column:
    ``(column, n_rows, n_nulls, distinct_est, p50, min_num, max_num,
    min_str, max_str)`` with NULL where a stat does not apply.
    """
    from poppy_spark.sketches import HllSketch, KllSketch

    cols = columns or df.columns
    schema = {f.name: f.dataType for f in df.schema.fields}
    unknown = [c for c in cols if c not in schema]
    if unknown:
        raise ValueError(f"columns not in DataFrame: {unknown}")

    specs: dict[str, tuple[str, Callable[[], Sketch]]] = {}
    for c in cols:
        specs[f"hll:{c}"] = (c, HllSketch.factory(hll_p))
        if isinstance(schema[c], _NUMERIC):
            specs[f"kll:{c}"] = (c, KllSketch.factory(kll_k))
    sketches = build_sketches_multi(df, specs)

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nulls:{c}"))
        if isinstance(schema[c], _NUMERIC):
            aggs.append(F.min(F.col(c)).cast("double").alias(f"min:{c}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"max:{c}"))
        elif isinstance(schema[c], T.StringType):
            aggs.append(F.min(F.col(c)).alias(f"smin:{c}"))
            aggs.append(F.max(F.col(c)).alias(f"smax:{c}"))
    exact = df.agg(*aggs).first()

    rows = []
    for c in cols:
        hll, _seen = sketches[f"hll:{c}"]
        kll_entry = sketches.get(f"kll:{c}")
        rows.append(
            (
                c,
                int(exact["__n"]),
                int(exact[f"nulls:{c}"] or 0),
                int(hll.result()),
                float(kll_entry[0].quantile(0.5)) if kll_entry and kll_entry[1] else None,
                exact[f"min:{c}"] if f"min:{c}" in exact.__fields__ else None,
                exact[f"max:{c}"] if f"max:{c}" in exact.__fields__ else None,
                exact[f"smin:{c}"] if f"smin:{c}" in exact.__fields__ else None,
                exact[f"smax:{c}"] if f"smax:{c}" in exact.__fields__ else None,
            )
        )
    return df.sparkSession.createDataFrame(
        rows,
        "column string, n_rows bigint, n_nulls bigint, distinct_est bigint, "
        "p50 double, min_num double, max_num double, min_str string, max_str string",
    )
