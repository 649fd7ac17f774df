"""Benchmark command: one workload over the seeded transcripts table.

    python3 perfbench/run.py --workload sharded --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout at local[<cores>] in one driver
process.  Prints the host stamp and the per-iteration samples as JSON lines
on stdout, then, as the last line, ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  A traced run also writes its spans and event-log
counters to ``.perfbench_out/``.  See ``NOTES.md``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_out")
#: table set-ups per run; setup_s takes their median
SETUP_REPS = 3
MIN_SAMPLES = 3
KERNEL_BATCH_ROWS = 16384  # the library's spark.sql.execution.arrow.maxRecordsPerBatch
KERNEL_BATCHES = 8


def _session_env(work: str) -> None:
    """Worker import path, scratch dirs inside the checkout, and the
    benchmark's own Spark settings, all fixed before the JVM starts."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    confs = {
        # the shuffle probe fails with RESULT_COLUMN_TYPES_MISMATCH on `ts`
        # (tz=UTC vs tz=Etc/UTC) unless the session zone is pinned
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _declared_units(traced: bool) -> dict:
    """Metric name -> unit of the metrics BENCHMARK.json declares for a
    traced (per-layer) or untraced (end-to-end) run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def _key_batches(wl):
    import pyarrow as pa

    tbl = wl.key_frame().limit(KERNEL_BATCH_ROWS * KERNEL_BATCHES).toArrow()
    col = tbl.column(0).combine_chunks().cast(pa.string())
    return [col.slice(i, KERNEL_BATCH_ROWS) for i in range(0, len(col), KERNEL_BATCH_ROWS)]


def _layer_metrics(tracer, groups, wl, rates, cores, setup) -> tuple[dict, str]:
    """Per-layer metrics from the traced iterations, and the dominant layer."""
    iters = {
        sp["id"] for sp in tracer.spans if sp["name"] == "iteration" and sp["phase"] == "measure"
    }
    n_it = len(iters)
    roles = {"build": {}, "probe": {}}
    for sp in tracer.spans:
        if sp.get("verb") not in roles or sp["parent"] not in iters:
            continue
        acc = roles[sp["verb"]]
        acc["wall_s"] = acc.get("wall_s", 0.0) + sp["end"] - sp["start"]
        for k, v in groups.get(sp["id"], {}).items():
            acc[k] = max(acc.get(k, 0), v) if k == "peak_exec_mem_bytes" else acc.get(k, 0) + v
    m = dict(setup)
    m.update(rates)
    mb = 1 / (1 << 20)
    for role, acc in roles.items():
        g = lambda k: acc.get(k, 0) / n_it  # noqa: E731
        m[f"spark.{role}_s"] = g("wall_s")
        m[f"spark.{role}.stages"] = g("stages")
        m[f"spark.{role}.tasks"] = g("tasks")
        m[f"spark.{role}.shuffle_write_mb"] = g("shuffle_write_bytes") * mb
        m[f"spark.{role}.shuffle_read_mb"] = g("shuffle_read_bytes") * mb
        m[f"spark.{role}.py_sent_mb"] = g("py_bytes_sent") * mb
        m[f"spark.{role}.py_returned_mb"] = g("py_bytes_returned") * mb
        m[f"spark.{role}.py_worker_s"] = g("py_run_ms") / 1e3
        m[f"spark.{role}.executor_run_s"] = g("executor_run_ms") / 1e3
    b, p = roles["build"], roles["probe"]
    # spill is 0 and the build's peak execution memory is 0 on `sharded`;
    # both stay in the trace file's event-log totals, not in the metrics
    m["spark.probe.peak_exec_mem_mb"] = p.get("peak_exec_mem_bytes", 0) * mb
    m["spark.build.shuffle_records_per_key"] = b.get("shuffle_write_records", 0) / n_it / wl.build_keys
    m["spark.build.shuffle_records_per_state"] = b.get("shuffle_write_records", 0) / n_it / wl.states_out
    m["spark.probe.shuffle_records_per_key"] = p.get("shuffle_write_records", 0) / n_it / wl.probe_keys

    # slot-seconds of one iteration, split: kernel work (estimated from the
    # single-thread rates), the rest of the Python-worker time (the Arrow
    # boundary and per-batch Python), JVM task time outside Python, and
    # slots left idle (scheduling, driver-side work, stragglers)
    slots = (m["spark.build_s"] + m["spark.probe_s"]) * cores
    execs = m["spark.build.executor_run_s"] + m["spark.probe.executor_run_s"]
    py = m["spark.build.py_worker_s"] + m["spark.probe.py_worker_s"]
    kern = min(wl.kernel_seconds(rates), py)
    shares = {
        "core": kern,
        "python_boundary": py - kern,
        "spark_jvm": max(execs - py, 0.0),
        "idle_slots": max(slots - execs, 0.0),
    }
    for k, v in shares.items():
        m[f"layer.{k}_share"] = v / slots
    return m, max(shares, key=shares.get)


def run(args, work: str) -> int:
    import layers
    from workloads import WORKLOADS, Analytics, Ledger, sketch_factories

    cores = len(os.sched_getaffinity(0))
    _session_env(work)
    stamp = layers.HostStamp()

    # set-up phases as (wall s, busy CPU s)
    clock = lambda: (time.perf_counter(), layers.busy_cpu_s())  # noqa: E731
    since = lambda c: (time.perf_counter() - c[0], layers.busy_cpu_s() - c[1])  # noqa: E731
    c = clock()
    from poppy_spark.spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    session = since(c)
    spark.sparkContext.setLogLevel("ERROR")
    from poppy_spark.data.transcripts import generate_transcripts

    cls = WORKLOADS[args.workload]
    gen = []
    for rep in range(SETUP_REPS):
        c = clock()
        table = generate_transcripts(spark, n_convs=cls.n_convs, seed=args.seed).persist()
        table.count()
        gen.append(since(c))
        if rep < SETUP_REPS - 1:
            table.unpersist(blocking=True)

    tracer = layers.Tracer(spark.sparkContext, enabled=bool(args.trace))
    ledger = Ledger()
    wl = cls(table, tracer, ledger)
    samples = []  # (traced, Sample)
    try:
        c = clock()
        wl.prepare()
        for _ in range(wl.warm_iters):
            with tracer.span("iteration", phase="warm"):
                wl.iteration()
        warm = since(c)
        # a traced run traces iterations in the order T U U T T U U T ..., so
        # the traced and untraced means see the same warm-up trend and their
        # difference is the tracing overhead
        min_samples = 4 if args.trace else MIN_SAMPLES
        t_loop = time.perf_counter()
        while len(samples) < min_samples or time.perf_counter() - t_loop < args.seconds:
            if args.trace:
                tracer.enabled = len(samples) % 4 in (0, 3)
            with tracer.span("iteration", phase="measure"):
                s = wl.iteration()
            samples.append((tracer.enabled, s))
        tracer.enabled = bool(args.trace)
        wl.order_check()
    except Exception:
        traceback.print_exc()
        if ledger.calls:
            Ledger.check(ledger.calls[-1], False, "raised")
    if len(samples) < MIN_SAMPLES:
        layers.stop_spark()
        print(json.dumps({"stamp": stamp.finish()}))
        return 1
    # worst |error| / bound per sketch kind; every answer is checked on its own
    errors = {"bloom_fpr": max(s.fpr_ratio for _, s in samples)}
    if isinstance(wl, Analytics):
        errors.update(wl.check_answers())
    rss = layers.worker_peak_rss_mb()
    setup = {"setup.session_s": session[1],
             "setup.generate_s": statistics.median(cpu for _, cpu in gen),
             "setup.warm_s": warm[1]}
    if args.trace:
        batches = _key_batches(wl)
        rates = layers.core_rates(batches, wl.capacity, wl.fpp)
        rates.update(layers.sketch_costs(batches, sketch_factories(wl.capacity, wl.fpp)))
    layers.stop_spark()

    plain = [s for _, s in samples]
    host = stamp.finish()
    print(json.dumps({"stamp": host}))
    r4 = lambda xs: [round(x, 4) for x in xs]  # noqa: E731
    print(json.dumps({
        "samples": len(plain),
        "build_s": r4(s.build_s for s in plain),
        "probe_s": r4(s.probe_s for s in plain),
        "pass_s": r4(s.pass_s for s in plain),
        "build_cpu_s": r4(s.build_cpu_s for s in plain),
        "probe_cpu_s": r4(s.probe_cpu_s for s in plain),
        "setup_session_s": r4(session),
        "setup_generate_s": [r4(g) for g in gen],
        "setup_warm_s": r4(warm),
        "worst_error_ratios": errors,
        "failures": [f"{c.verb}: {c.why}" for c in ledger.calls if not c.ok],
    }))
    if args.trace:
        logs = glob.glob(os.path.join(work, "events", "*"))
        groups = layers.parse_event_log(logs[0]) if len(logs) == 1 else {}
        metrics, dominant = _layer_metrics(tracer, groups, wl, rates, cores, setup)
        traced = [s.pass_s for on, s in samples if on]
        untraced = [s.pass_s for on, s in samples if not on]
        overhead_s = statistics.fmean(traced) - statistics.fmean(untraced)
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"trace-{args.workload}-s{args.seed}-{tracer.run_id}.json")
        tracer.write(path, {"workload": args.workload, "seed": args.seed, "stamp": host,
                            "event_log": groups, "metrics": metrics,
                            "dominant_layer": dominant, "trace_overhead_s": overhead_s})
        print(json.dumps({"dominant_layer": dominant, "trace_overhead_s": round(overhead_s, 4),
                          "trace_file": os.path.relpath(path, ROOT)}))
    else:
        med = statistics.median
        metrics = {
            "setup_s": sum(setup.values()),
            "build_mkeys_per_cpu_s": wl.build_keys / med(s.build_cpu_s for s in plain) / 1e6,
            "probe_mkeys_per_cpu_s": wl.probe_keys / med(s.probe_cpu_s for s in plain) / 1e6,
            "query_pass_cpu_s": med(s.pass_cpu_s for s in plain),
            "worker_peak_rss_mb": rss,
        }
    declared = _declared_units(bool(args.trace))
    if set(metrics) != set(declared):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(declared))}")
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": len(ledger.calls),
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": declared[k]} for k, v in metrics.items()},
    }))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["sharded", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "poppy_spark", "__init__.py")):
        print(f"perfbench: no poppy_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(OUT, f"run-{os.getpid()}")
    for d in ("events", "local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    try:
        return run(args, work)
    finally:
        # on every way out, the JVM and the Python workers under it end first
        if "pyspark" in sys.modules:
            import layers

            layers.stop_spark()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
