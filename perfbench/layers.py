"""Measurement helpers for the benchmark: host stamp, spans, the Spark event
log, Python-worker memory, and single-thread timings of the ``core`` and
``sketches`` layers.

Nothing here changes library code: spans wrap calls from the outside, and
the event log is Spark's own (enabled by the benchmark's session config).
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import time
import uuid
from contextlib import contextmanager

#: steal above this share of CPU time, or other processes keeping more than
#: this share of the CPUs busy while the benchmark idles in its probe, marks
#: the figures unreliable
STEAL_LIMIT = 0.02
OUTSIDE_BUSY_LIMIT = 0.25


# --- host stamp -----------------------------------------------------------------


def _read_proc_stat() -> tuple[int, int, int]:
    """(steal, idle + iowait, total) jiffies from the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], vals[3] + vals[4], sum(vals)


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def busy_cpu_s() -> float:
    """CPU seconds all the host's CPUs have spent busy since boot: user,
    nice, system, irq and softirq time.  Idle, iowait and the time the
    hypervisor stole are left out."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:8]]
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / _CLK_TCK


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class HostStamp:
    """boot_id, load average and hypervisor steal before and during a run."""

    def __init__(self, probe_s: float = 0.5):
        with open("/proc/sys/kernel/random/boot_id") as f:
            self.boot_id = f.read().strip()
        self.cores = len(os.sched_getaffinity(0))
        self.load_before = _loadavg()
        a = _read_proc_stat()
        time.sleep(probe_s)
        b = _read_proc_stat()
        total = max(1, b[2] - a[2])
        self.steal_before = (b[0] - a[0]) / total
        # the benchmark sleeps through the probe: busy time is someone else's
        self.busy_before = 1.0 - (b[1] - a[1]) / total
        self._start = b

    def finish(self) -> dict:
        end = _read_proc_stat()
        steal_during = (end[0] - self._start[0]) / max(1, end[2] - self._start[2])
        reasons = []
        if max(self.steal_before, steal_during) > STEAL_LIMIT:
            reasons.append("hypervisor steal")
        if self.busy_before > OUTSIDE_BUSY_LIMIT:
            reasons.append("outside load before the run")
        return {
            "boot_id": self.boot_id,
            "cores": self.cores,
            "loadavg_before": self.load_before,
            "loadavg_after": _loadavg(),
            "outside_busy_frac_before": round(self.busy_before, 5),
            "steal_frac_before": round(self.steal_before, 5),
            "steal_frac_during": round(steal_during, 5),
            "reliable": not reasons,
            "unreliable_because": reasons,
        }


# --- spans ----------------------------------------------------------------------


class Tracer:
    """In-memory spans around calls into the library's layers.

    Each span also labels the Spark jobs it starts with its own job group,
    so the event log's stages can be attributed to the innermost span.
    Disabled, ``span`` only times its body.  Either way ``last_s`` and
    ``last_cpu_s`` hold the wall time and the host's busy CPU time of the
    last span to end.
    """

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.last_s = 0.0
        self.last_cpu_s = 0.0
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            t0, c0 = time.perf_counter(), busy_cpu_s()
            yield
            self.last_s = time.perf_counter() - t0
            self.last_cpu_s = busy_cpu_s() - c0
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"{self.run_id}-{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["id"], name)
        c0 = busy_cpu_s()
        sp["start"] = time.perf_counter()
        try:
            yield
        finally:
            sp["end"] = time.perf_counter()
            sp["cpu_s"] = busy_cpu_s() - c0
            self.last_s = sp["end"] - sp["start"]
            self.last_cpu_s = sp["cpu_s"]
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f, indent=1)


# --- Spark event log --------------------------------------------------------------

_PY_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
}


def parse_event_log(path: str) -> dict[str, dict]:
    """Per-job-group totals from an uncompressed, non-rolling event log:
    stages, tasks, executor run time, shuffle bytes/records, Python bytes
    and worker time (summed from each task's SQL metric updates), spill and
    the largest per-task peak execution memory."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    stages_seen: dict[str, set] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = ev.get("Properties", {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if group is None or tm is None:
                    continue
                g = out.setdefault(group, dict.fromkeys(
                    ["tasks", "executor_run_ms", "shuffle_write_bytes",
                     "shuffle_write_records", "shuffle_read_bytes",
                     "shuffle_read_records", "spill_bytes", "peak_exec_mem_bytes",
                     *_PY_METRICS.values()], 0))
                stages_seen.setdefault(group, set()).add(ev["Stage ID"])
                g["tasks"] += 1
                g["executor_run_ms"] += tm["Executor Run Time"]
                sw, sr = tm["Shuffle Write Metrics"], tm["Shuffle Read Metrics"]
                g["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
                g["shuffle_write_records"] += sw["Shuffle Records Written"]
                g["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                g["shuffle_read_records"] += sr["Total Records Read"]
                g["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                g["peak_exec_mem_bytes"] = max(
                    g["peak_exec_mem_bytes"], tm["Peak Execution Memory"]
                )
                for acc in ev["Task Info"].get("Accumulables", []):
                    key = _PY_METRICS.get(acc.get("Name"))
                    if key and "Update" in acc:
                        g[key] += int(acc["Update"])
    for group, g in out.items():
        g["stages"] = len(stages_seen[group])
    return out


# --- child processes -------------------------------------------------------------


def _proc_stat(pid: int) -> tuple[str, int, int] | None:
    """(state, ppid, start time) of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return fields[0], int(fields[1]), int(fields[19])
    except (OSError, IndexError, ValueError):
        return None


def descendants() -> dict[int, int]:
    """pid -> start time of every live process below this one (the Spark
    JVM, its Python daemon and the daemon's forked workers)."""
    children: dict[int, list[int]] = {}
    started: dict[int, int] = {}
    for d in os.listdir("/proc"):
        st = _proc_stat(int(d)) if d.isdigit() else None
        if st is not None and st[0] != "Z":
            children.setdefault(st[1], []).append(int(d))
            started[int(d)] = st[2]
    out = {}
    todo = list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out[pid] = started[pid]
        todo.extend(children.get(pid, []))
    return out


def _alive(pid: int, start: int) -> bool:
    st = _proc_stat(pid)
    return st is not None and st[0] != "Z" and st[2] == start


def stop_spark(grace_s: float = 30.0) -> None:
    """Stop the active Spark context and its JVM, and wait until the JVM and
    every process under it have ended; what outlives ``grace_s`` is killed.

    ``SparkContext.stop`` leaves the JVM running until this interpreter
    exits; closing the JVM's stdin makes it exit now."""
    from pyspark import SparkContext

    procs = descendants()
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # a dead JVM; the processes are reaped below
            pass
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        try:
            jvm.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            jvm.wait(timeout=grace_s)
        except Exception:
            jvm.kill()
            jvm.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        left = [pid for pid, start in procs.items() if _alive(pid, start)]
        if not left or (killed and time.monotonic() > deadline):
            return
        if not killed and time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            killed, deadline = True, time.monotonic() + 5.0
        time.sleep(0.05)


# --- Python worker memory ---------------------------------------------------------


def worker_peak_rss_mb() -> float:
    """Largest VmHWM among this process's descendant Python workers."""
    peak_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0


# --- single-thread layer timings ------------------------------------------------


def _median_s(fn, reps: int = 5) -> float:
    """Median wall time of ``fn()`` over ``reps`` calls."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _rate(fn, n_keys: int, reps: int = 5) -> float:
    """Median M keys/s of ``fn()`` over ``reps`` calls."""
    return n_keys / _median_s(fn, reps) / 1e6


def core_rates(batches, capacity: int, fpp: float) -> dict:
    """Single-thread M keys/s of the ``core`` kernels on Arrow batches of
    the workload's own key column."""
    from poppy_spark.core.hashkern import pack_arrow, wyhash_batch
    from poppy_spark.core.v2 import BloomV2

    n = sum(len(b) for b in batches)
    packed = [pack_arrow(b) for b in batches]
    filt = BloomV2.with_capacity(capacity, fpp)

    def each(fn):
        return lambda: [fn(mat, lens) for mat, lens in packed]

    return {
        "core.pack_mkeys_s": _rate(lambda: [pack_arrow(b) for b in batches], n),
        "core.wyhash_mkeys_s": _rate(each(wyhash_batch), n),
        "core.insert_mkeys_s": _rate(each(filt.insert_packed_bulk), n),
        "core.contains_mkeys_s": _rate(each(filt.contains_packed), n),
        "core.route_mkeys_s": _rate(each(filt.route_packed), n),
    }


def sketch_costs(batches, factories: dict) -> dict:
    """Update rate, merge time, state size and load time of each sketch kind
    in ``factories`` on the workload's own key batches (KLL takes the key
    lengths as its values)."""
    import pyarrow.compute as pc

    n = sum(len(b) for b in batches)
    half = len(batches) // 2 or 1
    out = {}
    for kind, factory in factories.items():
        inputs = [pc.utf8_length(b) if kind == "kll" else b for b in batches]

        def fill(parts):
            sk = factory()
            for arr in parts:
                sk.update_arrow(arr)
            return sk

        out[f"sketches.{kind}.update_mrows_s"] = _rate(lambda: fill(inputs), n, reps=3)
        a, b = fill(inputs[:half]), fill(inputs[half:])
        raw_a, raw_b = a.dumps(), b.dumps()
        cls = type(a)
        # merge mutates its target: give every timed call a fresh pair
        pairs = iter([(cls.loads(raw_a), cls.loads(raw_b)) for _ in range(5)])

        def merge_next():
            x, y = next(pairs)
            x.merge(y)

        out[f"sketches.{kind}.merge_ms"] = _median_s(merge_next) * 1e3
        a.merge(b)
        state = a.dumps()
        out[f"sketches.{kind}.state_bytes"] = float(len(state))
        out[f"sketches.{kind}.loads_ms"] = _median_s(lambda: cls.loads(state)) * 1e3
    return out
