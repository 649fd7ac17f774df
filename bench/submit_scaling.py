"""North-rule ``spark-submit --py-files`` evidence at an N->4N pair.

Packages ``poppy_spark`` into a zip, then runs bench/submit_job.py via the
real ``spark-submit`` binary at N and 4N cores (the sandbox's stand-in for N
and 4N executors) FROM A NEUTRAL CWD — the repo is not on sys.path, so the
import inside the job proves the archive is complete and self-contained.
Each level is one steal-gated sample, re-sampled while steal exceeds the
2% contamination threshold.  The dataset is bench/scaling.py's
transcripts (``POPPY_SCALE_DATA``); ``n_convs`` regenerates it first.
Appends bench/scaling.py's report to BENCH/BASELINE.md.

Run: python bench/submit_scaling.py [--pair N,4N] [n_convs]

The default pair is 8,32.  This host's memory subsystem saturates below 32
string-feed workers (see BENCH/PERF_NOTES.md), so the in-cache pair 2,8 is
the contention-free reading of the north rule's N->4N criterion.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import scaling  # noqa: E402  sibling in bench/ (not a package: bench.py shadows it)
from poppy_spark.spark.session import _MALLOC_ENV  # noqa: E402


def make_zip(directory: str) -> str:
    """Archive ``poppy_spark`` as ``<directory>/poppy_spark_pyfiles.zip``."""
    base = os.path.join(directory, "poppy_spark_pyfiles")
    return shutil.make_archive(base, "zip", root_dir=REPO, base_dir="poppy_spark")


def submit(cores: int, zip_path: str, data: str) -> dict:
    cmd = [
        "spark-submit",
        "--master", f"local[{cores}]",
        "--py-files", zip_path,
        "--conf", f"spark.sql.shuffle.partitions={cores}",
        "--conf", f"spark.sql.files.maxPartitionBytes={scaling.MAX_PARTITION_BYTES}",
        "--conf", "spark.sql.adaptive.enabled=true",
        os.path.join(REPO, "bench", "submit_job.py"),
        "--data", data,
    ]
    # same glibc-malloc tuning as get_spark, so the harnesses compare
    env = dict(os.environ, **_MALLOC_ENV)
    # neutral cwd (the archive's own directory): poppy_spark must come from
    # the zip, not the checkout
    proc = subprocess.run(
        cmd, cwd=os.path.dirname(zip_path), env=env, capture_output=True, text=True
    )
    for line in proc.stdout.splitlines():
        if line.startswith("POPPY_SUBMIT_RESULT "):
            return json.loads(line[len("POPPY_SUBMIT_RESULT "):])
    raise RuntimeError(
        f"spark-submit at local[{cores}] produced no result line\n"
        f"--- stdout ---\n{proc.stdout[-2000:]}\n--- stderr ---\n{proc.stderr[-2000:]}"
    )


def submit_steal_gated(cores: int, zip_path: str, data: str, retries: int = 2) -> dict:
    """One sample under a 30 s steal probe (``scaling.steal_stamped``),
    re-sampled up to ``retries`` times while contaminated."""
    for _ in range(retries + 1):
        r, steal = scaling.steal_stamped(lambda: submit(cores, zip_path, data), 30)
        r["steal"] = steal or {}
        if not r["steal"].get("contaminated"):
            break
    return r


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("n_convs", nargs="?", type=int, help="regenerate the dataset first")
    ap.add_argument("--pair", default="8,32", help="the N,4N core counts")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.pair.split(","))
    data = scaling.data_path("sketch")
    if args.n_convs:
        scaling.make_dataset("sketch", data, args.n_convs)

    tmp = tempfile.mkdtemp()
    try:
        zip_path = make_zip(tmp)
        runs = {c: submit_steal_gated(c, zip_path, data) for c in (lo, hi)}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    steal_note = "; ".join(
        f"local[{c}] steal probe {runs[c]['steal'].get('probe_steal_frac', 'n/a')}"
        f" / run {runs[c]['steal'].get('run_steal_frac', 'n/a')}"
        f" ({'CONTAMINATED' if runs[c]['steal'].get('contaminated') else 'clean'})"
        for c in (lo, hi)
    )
    effs = scaling.report(
        "spark-submit --py-files run",
        f"Real `spark-submit --py-files {os.path.basename(zip_path)}` from a neutral cwd\n"
        f"(package imported from the archive, not the checkout) over "
        f"{runs[lo]['n_rows']:,} transcript turns; best of 3 per level.",
        runs, [(lo, hi)], "turns", [f"Steal gate (auto): {steal_note}."],
    )
    print(json.dumps({"runs": runs, "efficiency": effs, "zip": os.path.basename(zip_path)}))


if __name__ == "__main__":
    main()
