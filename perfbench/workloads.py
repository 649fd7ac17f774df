"""The benchmark workloads over the seeded transcripts table.

Each workload times its verb calls per iteration, checks every output, and
records each verb call in a ledger: a call fails if it raises or if a check
on its output fails.  Why each workload exists is in ``NOTES.md``.
"""

from __future__ import annotations

import bisect
import math
from dataclasses import dataclass, field

from pyspark.sql import functions as F

#: an empirical FPR above FPR_SLACK x fpp fails the probe call; the sharded
#: probe expects ~1,100 false positives a run, so 1.5x is > 15 sigma
FPR_SLACK = 1.5
HOT_CONV = "conv-00000000"  # generate_transcripts plants the skewed conversation at cid 0
#: the sketch settings of the north-rule queries in __spark_entry__.py
HLL_P = 14
KLL_K = 200
CMS_W, CMS_D = 8192, 5  # eps = e/w = 0.00033, delta = e^-d = 0.0067
#: per-answer HLL bound: HLL_SIGMAS standard errors (1.04/sqrt(m)), and at
#: least HLL_FLOOR: the (role, day) groups hold ~60 conversations, where
#: the estimate is linear counting and its error is whole register
#: collisions; the north-rule bound (3 standard errors, at least 3) fails
#: a correct sketch whenever one of the ~250 groups of a run holds four
HLL_SIGMAS = 4
HLL_FLOOR = 8.0
#: per-conversation Bloom capacity: the largest conversation outside the
#: planted hot one has max_turns = 40 turns
CONV_CAPACITY = 40
CONV_FPP = 0.01
QUANTILES = [i / 100 for i in range(1, 100)]


def sketch_factories(capacity: int, fpp: float) -> dict:
    """The sketch configurations the workloads build, keyed by kind, for the
    single-thread sketches-layer timings (Bloom at the workload's own
    capacity and fpp)."""
    from poppy_spark.sketches import BloomSketch, CmsSketch, HllSketch, KllSketch

    return {
        "bloom": BloomSketch.factory(capacity, fpp),
        "hll": HllSketch.factory(HLL_P),
        "cms": CmsSketch.factory(CMS_W, CMS_D),
        "kll": KllSketch.factory(KLL_K),
    }


@dataclass
class Call:
    verb: str
    ok: bool = True
    why: str = ""


@dataclass
class Ledger:
    calls: list = field(default_factory=list)

    def start(self, verb: str) -> Call:
        c = Call(verb)
        self.calls.append(c)
        return c

    @staticmethod
    def check(call: Call, ok: bool, why: str) -> None:
        if not ok and call.ok:
            call.ok, call.why = False, why

    @property
    def failed(self) -> int:
        return sum(not c.ok for c in self.calls)


@dataclass
class Sample:
    """One iteration's wall and busy-CPU seconds, split into build and probe."""

    build_s: float
    probe_s: float
    build_cpu_s: float
    probe_cpu_s: float
    fpr_ratio: float

    @property
    def pass_s(self) -> float:
        return self.build_s + self.probe_s

    @property
    def pass_cpu_s(self) -> float:
        return self.build_cpu_s + self.probe_cpu_s


def _present_absent(df, key, *carry):
    """Every row's key (present) plus one key per row that no build ever
    inserts (absent).  The absent key names its row (``absent:conv#turn:``
    + key), so each is distinct: a false positive on a repeated text would
    otherwise count once per repeat, and the FPR would move with the seed."""
    cols = [F.col(c) for c in carry]
    absent = F.concat(
        F.lit("absent:"), F.col("conv_id"), F.lit("#"), F.col("turn_idx").cast("string"),
        F.lit(":"), F.col(key),
    )
    return df.select(*cols, F.col(key).alias("pkey"), F.lit(True).alias("present")).unionByName(
        df.select(*cols, absent.alias("pkey"), F.lit(False).alias("present"))
    )


def _hit_counts(hits_df, extra=None):
    """(false negatives, false positives, absent probes) of a probe output,
    excluding ``extra``-matching rows from the false-positive side."""
    absent = ~F.col("present") if extra is None else (~F.col("present") & ~extra)
    row = hits_df.agg(
        F.sum((F.col("present") & ~F.col("hit")).cast("long")).alias("fn"),
        F.sum((absent & F.col("hit")).cast("long")).alias("fp"),
        F.sum(absent.cast("long")).alias("absent"),
    ).collect()[0]
    return int(row["fn"]), int(row["fp"]), int(row["absent"])


def _digest(states, key):
    """Order-free digest of a (key, state) DataFrame: equal digests mean the
    same state bytes under every key (up to a 64-bit hash collision)."""
    row = states.agg(
        F.bit_xor(F.xxhash64(key, "state")).alias("h"), F.count("*").alias("n")
    ).collect()[0]
    return row["h"], row["n"]


class Workload:
    name = ""
    n_convs = 0
    #: iterations run before measuring
    warm_iters = 1
    capacity = 0
    fpp = 0.0

    def __init__(self, table, tracer, ledger: Ledger):
        self.t = table
        self.tr = tracer
        self.ledger = ledger
        self.n_rows = 0
        self.build_keys = 0
        self.probe_keys = 0
        self.states_out = 0
        self._fp_seen = None

    def prepare(self) -> None:
        raise NotImplementedError

    def iteration(self) -> Sample:
        raise NotImplementedError

    def order_check(self) -> None:
        """Build the same keys under another partition order; the states
        must be byte-equal."""
        raise NotImplementedError

    def key_frame(self):
        """The key column the workload's Bloom filters hash."""
        return self.t.select("text")

    def kernel_seconds(self, rates: dict) -> float:
        """Single-core kernel time one iteration implies, from the measured
        single-thread rates (an estimate for the layer report)."""
        raise NotImplementedError

    def _check_probe(self, call: Call, fn: int, fp: int, absent: int, fpp: float) -> float:
        ratio = fp / absent / fpp
        Ledger.check(call, fn == 0, f"{fn} false negatives")
        Ledger.check(call, ratio <= FPR_SLACK, f"fpr_ratio {ratio:.3f} > {FPR_SLACK}")
        # probe answers are deterministic: every iteration must agree
        if self._fp_seen is None:
            self._fp_seen = fp
        Ledger.check(call, fp == self._fp_seen, "false positives differ between iterations")
        return ratio


class Sharded(Workload):
    """Bucket-sharded Bloom over the unique short key conv_id#turn_idx,
    probed through the shuffle strategy with all columns carried."""

    name = "sharded"
    n_convs = 5_000
    #: the first measured iteration after a single warm-up still runs
    #: ~20% slow: the JIT and the Python workers warm through the second
    warm_iters = 2
    #: 0.01 keeps ~1,100 false positives in a run, so the FPR repeats
    #: across seeds at this table size
    fpp = 0.01
    n_shards = 8

    def prepare(self) -> None:
        self.keyed = self.t.withColumn(
            "key", F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
        )
        self.n_rows = self.t.count()
        self.capacity = self.n_rows  # (conv_id, turn_idx) is unique
        carry = self.keyed.columns
        self.probe_df = _present_absent(self.keyed, "key", *carry)
        self.build_keys, self.probe_keys = self.n_rows, 2 * self.n_rows
        self.states_out = self.n_shards
        self.sb = None

    def key_frame(self):
        return self.keyed.select("key")

    def kernel_seconds(self, rates: dict) -> float:
        per = 1e-6 * (1 / rates["core.pack_mkeys_s"] + 1 / rates["core.route_mkeys_s"])
        return (self.build_keys + self.probe_keys) * per

    def _build(self, df):
        from poppy_spark.spark.sharded import build_sharded_bloom

        sb = build_sharded_bloom(df, "key", self.capacity, self.fpp, n_shards=self.n_shards)
        sb.states.count()
        return sb

    def iteration(self) -> Sample:
        if self.sb is not None:
            self.sb.states.unpersist()
        self.ledger.start("sharded.build")
        with self.tr.span("sharded.build", verb="build", keys=self.build_keys):
            self.sb = self._build(self.keyed)
        t_build, c_build = self.tr.last_s, self.tr.last_cpu_s
        c = self.ledger.start("sharded.contains")
        with self.tr.span("sharded.contains", verb="probe", keys=self.probe_keys):
            fn, fp, absent = _hit_counts(
                self.sb.contains(self.probe_df, "pkey", strategy="shuffle")
            )
        ratio = self._check_probe(c, fn, fp, absent, self.fpp)
        return Sample(t_build, self.tr.last_s, c_build, self.tr.last_cpu_s, ratio)

    def order_check(self) -> None:
        c = self.ledger.start("sharded.build")
        other = self._build(self.keyed.repartition(5))
        Ledger.check(c, _digest(other.states, "shard_id") == _digest(self.sb.states, "shard_id"),
                     "sharded Bloom differs between partition orders")
        other.states.unpersist()


class Analytics(Workload):
    """One pass over the north-rule queries: grouped HLL, KLL and CMS plus a
    per-conversation Bloom probed through the grouped join."""

    name = "analytics"
    n_convs = 2_500
    capacity = CONV_CAPACITY
    fpp = CONV_FPP

    def prepare(self) -> None:
        from poppy_spark.data.transcripts import TOOLS

        self.td = self.t.withColumn("day", F.to_date("ts")).withColumn("n_chars", F.length("text"))
        self.tooled = self.td.filter(F.col("tool").isNotNull())
        self.n_rows = self.t.count()
        n_tooled = self.tooled.count()
        self.probe_df = _present_absent(self.t, "text", "conv_id")
        self.build_keys = 3 * self.n_rows + n_tooled
        self.probe_keys = 2 * self.n_rows
        self.tools = TOOLS
        self.states = None
        self.answers = []

    def kernel_seconds(self, rates: dict) -> float:
        upd = lambda kind: 1e-6 / rates[f"sketches.{kind}.update_mrows_s"]  # noqa: E731
        n_tooled = self.build_keys - 3 * self.n_rows
        build = self.n_rows * (upd("hll") + upd("kll") + upd("bloom")) + n_tooled * upd("cms")
        probe = self.probe_keys * 1e-6 * (
            1 / rates["core.pack_mkeys_s"] + 1 / rates["core.route_mkeys_s"]
        )
        return build + probe

    def _conv_blooms(self, df):
        from poppy_spark.sketches import BloomSketch
        from poppy_spark.spark.agg import build_sketch_grouped

        states = build_sketch_grouped(
            df, "text", ["conv_id"], BloomSketch.factory(CONV_CAPACITY, CONV_FPP),
            shuffle="rows",
        ).persist()
        return states, states.count()

    def iteration(self) -> Sample:
        from poppy_spark.sketches import CmsSketch, HllSketch, KllSketch
        from poppy_spark.spark.agg import build_sketch_grouped
        from poppy_spark.spark.probe import bloom_contains_grouped_join

        if self.states is not None:
            self.states.unpersist()
        t_build = c_build = 0.0
        calls = {}
        queries = [
            ("hll", self.td, "conv_id", ["role", "day"], HllSketch.factory(HLL_P)),
            ("kll", self.td, "n_chars", ["role"], KllSketch.factory(KLL_K)),
            ("cms", self.tooled, "tool", ["role"], CmsSketch.factory(CMS_W, CMS_D)),
        ]
        rows = {}
        for q, df, col, groups, factory in queries:
            calls[q] = self.ledger.start(f"agg.build_sketch_grouped.{q}")
            with self.tr.span(f"agg.build_sketch_grouped.{q}", verb="build"):
                rows[q] = build_sketch_grouped(df, col, groups, factory).collect()
            t_build += self.tr.last_s
            c_build += self.tr.last_cpu_s
        calls["bloom"] = self.ledger.start("agg.build_sketch_grouped.conv_bloom")
        with self.tr.span("agg.build_sketch_grouped.conv_bloom", verb="build"):
            self.states, n_states = self._conv_blooms(self.t)
        t_build += self.tr.last_s
        c_build += self.tr.last_cpu_s
        c = self.ledger.start("probe.bloom_contains_grouped_join")
        with self.tr.span("probe.bloom_contains_grouped_join", verb="probe", keys=self.probe_keys):
            fn, fp, absent = _hit_counts(
                bloom_contains_grouped_join(self.probe_df, "pkey", "conv_id", self.states),
                extra=F.col("conv_id") == HOT_CONV,
            )
        t_probe, c_probe = self.tr.last_s, self.tr.last_cpu_s
        # answers are decoded outside the timed verbs; they are checked
        # against exact aggregates once the timed loop is over
        self.answers.append((calls, {
            "hll": {(r["role"], r["day"]): HllSketch.loads(bytes(r["state"])).result()
                    for r in rows["hll"]},
            "kll": {r["role"]: KllSketch.loads(bytes(r["state"])) for r in rows["kll"]},
            "cms": {r["role"]: CmsSketch.loads(bytes(r["state"])) for r in rows["cms"]},
        }))
        self.states_out = sum(len(v) for v in rows.values()) + n_states
        ratio = self._check_probe(c, fn, fp, absent, self.fpp)
        return Sample(t_build, t_probe, c_build, c_probe, ratio)

    def order_check(self) -> None:
        c = self.ledger.start("agg.build_sketch_grouped.conv_bloom")
        other, _ = self._conv_blooms(self.t.repartition(5))
        Ledger.check(c, _digest(other, "conv_id") == _digest(self.states, "conv_id"),
                     "per-conversation Bloom states differ between partition orders")
        other.unpersist()

    def check_answers(self) -> dict:
        """Check every recorded answer against exact Spark aggregates and
        return, per sketch kind, the worst |error| / bound over its answers
        and the iterations.  Every single answer must be within its bound."""
        hll_exact = {
            (r["role"], r["day"]): r["n"]
            for r in self.td.groupBy("role", "day").agg(F.countDistinct("conv_id").alias("n")).collect()
        }
        lengths: dict = {}
        for r in self.td.groupBy("role", "n_chars").count().collect():
            lengths.setdefault(r["role"], []).append((r["n_chars"], r["count"]))
        cdf = {}
        for role, pairs in lengths.items():
            pairs.sort()
            total, run, xs, below, upto = sum(n for _, n in pairs), 0, [], [], []
            for x, n in pairs:
                xs.append(x)
                below.append(run / total)
                run += n
                upto.append(run / total)
            cdf[role] = (xs, below, upto)
        tool_exact = {
            (r["role"], r["tool"]): r["count"]
            for r in self.tooled.groupBy("role", "tool").count().collect()
        }
        tool_totals: dict = {}
        for (role, _), n in tool_exact.items():
            tool_totals[role] = tool_totals.get(role, 0) + n
        hll_tol = HLL_SIGMAS * 1.04 / math.sqrt(1 << HLL_P)

        worst_seen: dict = {}
        for calls, ans in self.answers:
            per_kind = {}
            errs = []
            for key, est in ans["hll"].items():
                n = hll_exact.get(key, 0)
                errs.append(abs(est - n) / max(hll_tol * n, HLL_FLOOR))
            Ledger.check(calls["hll"], len(ans["hll"]) == len(hll_exact), "HLL group set differs")
            per_kind["hll"] = errs
            errs = []
            for role, sk in ans["kll"].items():
                xs, below, upto = cdf[role]
                for q in QUANTILES:
                    i = bisect.bisect_left(xs, sk.quantile(q))
                    lo, hi = (below[i], upto[i]) if i < len(xs) else (1.0, 1.0)
                    errs.append(max(0.0, lo - q, q - hi) / sk.eps())
            per_kind["kll"] = errs
            errs = []
            for role, sk in ans["cms"].items():
                ests = sk.query_keys(self.tools)
                for tool, est in zip(self.tools, ests):
                    n = tool_exact.get((role, tool), 0)
                    bound = sk.eps * tool_totals[role]
                    Ledger.check(calls["cms"], est >= n, f"CMS under-count for {tool}")
                    errs.append((est - n) / bound)
            per_kind["cms"] = errs
            for kind, errs in per_kind.items():
                worst = max(errs)
                Ledger.check(calls[kind], worst <= 1.0, f"{kind} error {worst:.2f} x bound")
                worst_seen[kind] = max(worst_seen.get(kind, 0.0), worst)
        return worst_seen


WORKLOADS = {w.name: w for w in (Sharded, Analytics)}
