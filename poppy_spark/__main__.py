"""poppy-compatible CLI: ``python -m poppy_spark COMMAND ...``

Mirrors the reference binary's surface (``poppy/src/bin/poppy.rs``):

* ``create [-c CAP] [-p FPP] [--version V] [-O OPT] FILTER [FILES...]`` —
  new filter; with input files, capacity defaults to the exact line count
  (``bin/poppy.rs:288-319``).
* ``insert FILTER [FILES...]`` — load, insert lines (stdin if no files), save.
* ``check [--verify] FILTER [FILES...]`` — print contained entries, or with
  ``--verify`` print ``NOK: <entry>`` for misses (``bin/poppy.rs:337-410``).
* ``show FILTER`` — metadata via a partial (header-only) read.
* ``bench [-p FPP] [--runs N] [--fp-tol T] FILES...`` — seeded mutation
  sweep; FAILS if avg FPR > fpp*(1+tol) (``bin/poppy.rs:411-556``).

Files are line-delimited text, one entry per line, like the reference.
Batch kernels process lines in 64k chunks; use the Spark API for
table-scale inputs.
"""

from __future__ import annotations

import argparse
import contextlib
import sys
import time

import numpy as np

from poppy_spark.core import BloomFilter, OptLevel, load

CHUNK = 65536



def _session_exists() -> bool:
    """Is there a SparkSession this process did not create via this
    command?  ``getActiveSession`` alone is thread-local — a session made
    in another thread would read as absent and get stopped on exit
    (round-3 advice).  PySpark has no public process-wide getter, so fall
    back to the stable ``_instantiatedSession`` attribute."""
    from pyspark.sql import SparkSession

    if SparkSession.getActiveSession() is not None:
        return True
    get_default = getattr(SparkSession, "getDefaultSession", None)
    if callable(get_default):  # newer pyspark, if it grows the API
        try:
            return get_default() is not None
        except Exception:
            pass
    return getattr(SparkSession, "_instantiatedSession", None) is not None


@contextlib.contextmanager
def _session(app_name: str, jobs: int):
    """A ``local[jobs]`` session for one command.  ``getOrCreate`` may hand
    back a session owned by the embedding process (tests, notebooks): it
    is reused and left running; only a session this command created is
    stopped on exit."""
    from poppy_spark.spark.session import get_spark

    owned = not _session_exists()
    spark = get_spark(app_name, master=f"local[{jobs}]", shuffle_partitions=max(jobs, 1))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        yield spark
    finally:
        if owned:
            spark.stop()


def _iter_chunks(paths: list[str]):
    if not paths:
        buf = [line.rstrip("\n").encode() for line in sys.stdin]
        for i in range(0, len(buf), CHUNK):
            yield buf[i : i + CHUNK]
        return
    for p in paths:
        with open(p, "rb") as f:
            buf = []
            for line in f:
                buf.append(line.rstrip(b"\n"))
                if len(buf) >= CHUNK:
                    yield buf
                    buf = []
            if buf:
                yield buf


def _count_lines(paths: list[str]) -> int:
    return sum(len(c) for c in _iter_chunks(paths))


def cmd_create(args) -> int:
    if args.jobs > 1:
        return _create_spark(args)
    cap = args.capacity
    if args.files:
        cap = _count_lines(args.files)
    bf = BloomFilter.with_params(args.version, cap, args.fpp, OptLevel(args.opt))
    for chunk in _iter_chunks(args.files):
        bf.insert_batch(chunk)
    bf.save(args.filter)
    return 0


def _create_spark(args) -> int:
    """Parallel create (the reference's ``-j N`` path, ``bin/poppy.rs:232-282``
    — clone-insert-fold there, Spark partial-aggregation here).  With
    ``--shards`` the build goes through the bucket-range-sharded pipeline
    and reassembles the identical single poppy file at the end."""
    # validate BEFORE creating any Spark session so an argument error never
    # leaks an owned local[N] JVM for the process lifetime
    if not args.files:
        print("create -j N requires input files (stdin is single-process)", file=sys.stderr)
        return 2
    if args.shards > 1 and (args.version != 2 or args.opt != 0):
        print("--shards requires v2 with OptLevel NONE", file=sys.stderr)
        return 2
    with _session("poppy-cli-create", args.jobs) as spark:
        df = spark.read.text(args.files)
        cap = df.count()  # capacity from exact line count, like the local path
        if args.shards > 1:
            from poppy_spark.spark.sharded import build_sharded_bloom

            sb = build_sharded_bloom(df, "value", cap, args.fpp, n_shards=args.shards)
            raw = sb.to_poppy_bytes()
            with open(args.filter, "wb") as f:
                f.write(raw)
        else:
            from poppy_spark.sketches import BloomSketch
            from poppy_spark.spark.agg import build_sketch

            sk = build_sketch(
                df, "value", BloomSketch.factory(cap, args.fpp, args.version, args.opt)
            )
            sk.filter.save(args.filter)
    return 0


def cmd_insert(args) -> int:
    bf = load(args.filter)
    for chunk in _iter_chunks(args.files):
        bf.insert_batch(chunk)
    bf.save(args.filter)
    return 0


def cmd_check(args) -> int:
    bf = load(args.filter)
    for chunk in _iter_chunks(args.files):
        hits = bf.contains_batch(chunk)
        for entry, hit in zip(chunk, hits):
            if hit and not args.verify:
                sys.stdout.write(entry.decode(errors="replace") + "\n")
            elif args.verify and not hit:
                sys.stdout.write("NOK: " + entry.decode(errors="replace") + "\n")
    return 0


def cmd_show(args) -> int:
    import os as _os

    if _os.path.isdir(args.filter) and _os.path.isdir(_os.path.join(args.filter, "shards")):
        # a ShardedBloom.save() directory: show shard layout via Spark
        from poppy_spark.spark.sharded import ShardedBloom

        with _session("poppy-cli-show", 2) as spark:
            for k, v in ShardedBloom.load(spark, args.filter).info().items():
                print(f"{k}: {v}")
        return 0
    bf = load(args.filter, partial=True)
    for k, v in bf.info().items():
        print(f"{k}: {v}")
    return 0


def cmd_bench(args) -> int:
    # dedup lines, build, sweep mutation probability 0..100% with a fixed
    # seed, measure qps and empirical FPR; fail past fpp*(1+tol)
    lines: list[bytes] = []
    seen = set()
    for chunk in _iter_chunks(args.files):
        for e in chunk:
            if e not in seen:
                seen.add(e)
                lines.append(e)
    bf = BloomFilter.with_capacity(len(lines), args.fpp)
    t0 = time.perf_counter()
    bf.insert_batch(lines)
    insert_dur = time.perf_counter() - t0
    print(f"entries: {len(lines)}  insert: {len(lines)/insert_dur:,.0f} entries/s")

    rng = np.random.default_rng(42)
    fpps = []
    for mut_prob in range(0, 101, 10):
        mutated, is_mut = [], []
        flips = rng.integers(0, 101, size=len(lines))
        for i, e in enumerate(lines):
            if flips[i] < mut_prob and e:
                xor = rng.integers(0, 256, size=len(e), dtype=np.uint8)
                mutated.append(bytes(np.frombuffer(e, np.uint8) ^ xor))
                is_mut.append(True)
            else:
                mutated.append(e)
                is_mut.append(False)
        durs = []
        hits = None
        for _ in range(args.runs):
            t0 = time.perf_counter()
            hits = bf.contains_batch(mutated)
            durs.append(time.perf_counter() - t0)
        qps = len(lines) / (sum(durs) / len(durs))
        fp = tn = 0
        tested = set()
        for i, m in enumerate(is_mut):
            e = mutated[i]
            if m and e not in seen and e not in tested:
                if hits[i]:
                    fp += 1
                else:
                    tn += 1
            tested.add(e)
        if fp + tn:
            rate = fp / (fp + tn)
            fpps.append(rate)
            print(f"mut {mut_prob:3d}%  qps {qps:,.0f}  fpr {rate:.5f}")
    avg = sum(fpps) / len(fpps) if fpps else 0.0
    print(f"avg fpr: {avg:.5f} (bound {args.fpp * (1 + args.fp_tol):.5f})")
    if avg > args.fpp * (1.0 + args.fp_tol):
        print("FAIL: empirical FPR exceeds bound", file=sys.stderr)
        return 1
    return 0


def cmd_profile(args) -> int:
    """Beyond-reference: one-line-per-column data profile of a parquet
    table (exact counts/nulls/min/max + HLL distinct + KLL median — two
    scans at any width, ``spark/profile.py``)."""
    import json

    with _session("poppy-spark-cli", args.jobs) as spark:
        from poppy_spark.spark.profile import profile_table

        df = spark.read.parquet(args.table)
        cols = args.columns.split(",") if args.columns else None
        for r in profile_table(df, cols).collect():
            print(json.dumps(r.asDict()))
        return 0


def cmd_clean(args) -> int:
    """Beyond-reference: the composed corpus-cleaning pipeline (optional
    HTML strip -> Unicode normalize -> PII scrub -> corpus line dedup ->
    exact doc dedup -> quality filter -> Gopher rules) parquet-in,
    parquet-out, with a JSON summary line."""
    import json

    from pyspark.sql import functions as F

    with _session("poppy-spark-cli", args.jobs) as spark:
        from poppy_spark.spark.dedup import drop_exact_duplicates, line_dedup_corpus
        from poppy_spark.spark.text import (
            gopher_quality_filters,
            normalize_text,
            quality_score,
            scrub_pii,
            strip_html,
        )

        df = spark.read.parquet(args.table)
        n_in = df.count()
        cur = df.select(args.id_col, args.text_col)
        if args.strip_html:
            cur = strip_html(cur, args.text_col)
        if args.normalize:
            cur = normalize_text(cur, args.text_col, form=args.normalize)
        if args.scrub:
            cur = scrub_pii(cur, args.text_col).drop("pii_found")
        if args.line_dedup:
            cur = line_dedup_corpus(cur, args.text_col, args.id_col)
        cur = drop_exact_duplicates(cur, args.text_col, args.id_col)
        if args.min_quality > 0:
            cur = (
                quality_score(cur, args.text_col)
                .filter(F.col("quality") >= args.min_quality)
                .select(args.id_col, args.text_col)
            )
        if args.gopher:
            cur = (
                gopher_quality_filters(cur, args.text_col)
                .filter(F.col("gopher_pass"))
                .select(args.id_col, args.text_col)
            )
        cur.write.mode("overwrite").parquet(args.out)
        n_out = spark.read.parquet(args.out).count()
        print(json.dumps({"rows_in": n_in, "rows_out": n_out, "out": args.out}))
        return 0


def cmd_spans(args) -> int:
    """Beyond-reference: repeated verbatim span audit of a parquet corpus
    (memorization/boilerplate discovery, ``spark/spans.py``) — one JSON
    line per repeated span, heaviest first."""
    import json

    from pyspark.sql import functions as F

    with _session("poppy-spark-cli", args.jobs) as spark:
        from poppy_spark.spark.spans import repeated_spans, span_texts

        df = spark.read.parquet(args.table)
        spans = repeated_spans(
            df, args.text_col, args.id_col,
            span_words=args.span_words, min_docs=args.min_docs,
            stride=args.stride,
        )
        if args.show_text:
            spans = span_texts(spans, df, args.text_col, args.id_col, args.span_words)
        for r in (
            spans.orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "span_hash")
            .limit(args.top)
            .collect()
        ):
            print(json.dumps(r.asDict()))
        return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="poppy_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("create")
    c.add_argument("-c", "--capacity", type=int, default=10000)
    c.add_argument("-p", "--fpp", type=float, default=0.01)
    c.add_argument("--version", type=int, default=2)
    c.add_argument("-O", "--opt", type=int, default=0)
    c.add_argument("-j", "--jobs", type=int, default=1,
                   help="parallel build via Spark local[N] (reference -j)")
    c.add_argument("--shards", type=int, default=1,
                   help="with -j: bucket-range-sharded build, reassembled to one file")
    c.add_argument("filter")
    c.add_argument("files", nargs="*")
    c.set_defaults(fn=cmd_create)

    i = sub.add_parser("insert")
    i.add_argument("filter")
    i.add_argument("files", nargs="*")
    i.set_defaults(fn=cmd_insert)

    k = sub.add_parser("check")
    k.add_argument("--verify", action="store_true")
    k.add_argument("filter")
    k.add_argument("files", nargs="*")
    k.set_defaults(fn=cmd_check)

    s = sub.add_parser("show")
    s.add_argument("filter")
    s.set_defaults(fn=cmd_show)

    b = sub.add_parser("bench")
    b.add_argument("-p", "--fpp", type=float, default=0.001)
    b.add_argument("--runs", type=int, default=5)
    b.add_argument("--fp-tol", type=float, default=0.2)
    b.add_argument("files", nargs="+")
    b.set_defaults(fn=cmd_bench)

    pr = sub.add_parser("profile", help="per-column table profile (beyond-reference)")
    pr.add_argument("-j", "--jobs", type=int, default=4)
    pr.add_argument("--columns", default=None, help="comma-separated subset")
    pr.add_argument("table", help="parquet path")
    pr.set_defaults(fn=cmd_profile)

    cl = sub.add_parser("clean", help="corpus cleaning pipeline (beyond-reference)")
    cl.add_argument("-j", "--jobs", type=int, default=4)
    cl.add_argument("--id-col", default="doc_id")
    cl.add_argument("--text-col", default="text")
    cl.add_argument("--strip-html", action="store_true",
                    help="remove markup first (script/style/comments/tags, "
                    "common entities; block closers become newlines)")
    cl.add_argument("--normalize", default=None, metavar="FORM",
                    help="Unicode-normalize text first (NFC/NFKC/NFD/NFKD; "
                    "also strips control chars + collapses whitespace runs)")
    cl.add_argument("--scrub", action="store_true", help="redact PII first")
    cl.add_argument("--line-dedup", action="store_true", help="corpus line-level dedup")
    cl.add_argument("--min-quality", type=float, default=0.0)
    cl.add_argument("--gopher", action="store_true",
                    help="apply the Gopher quality rules (Rae et al. 2021)")
    cl.add_argument("table", help="input parquet path")
    cl.add_argument("out", help="output parquet path")
    cl.set_defaults(fn=cmd_clean)

    sp = sub.add_parser("spans", help="repeated-span audit (beyond-reference)")
    sp.add_argument("-j", "--jobs", type=int, default=4)
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--span-words", type=int, default=20)
    sp.add_argument("--min-docs", type=int, default=2)
    sp.add_argument("--stride", type=int, default=1,
                    help="content-hash (winnowing) subsampling factor")
    sp.add_argument("--top", type=int, default=50)
    sp.add_argument("--show-text", action="store_true",
                    help="join the representative span text back")
    sp.add_argument("table", help="parquet path")
    sp.set_defaults(fn=cmd_spans)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
