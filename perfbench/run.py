#!/usr/bin/env python3
"""Ingest + search benchmark for the clpspark pipeline.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_small --seed 1 --seconds 10 --trace 0

Prints one line per metric (name, value, unit) and, as the last line of
standard output, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
the per-layer ones with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# units of the printed metrics that BENCHMARK.json does not list
UNITS = {
    "small_batch_p50_s": "s", "ingest_rows_per_s": "rows/s",
    "needle_p50_ms": "ms", "haystack_p50_ms": "ms", "search_tail_ms": "ms",
    "search_tail_pct": "%", "op_cpu_ms": "ms", "peak_rss_mb": "MB",
    "failed_frac": "ratio", "batches": "count", "rows_per_batch": "count",
    "queries": "count", "archive_rows": "count",
}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program is imported from the checkout, by this process and by the
    # Spark Python workers it starts
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        import clpspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    from perfbench.procs import PeakRss, host_steal
    from perfbench.workloads import WORKLOADS, Run

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run = Run(work=work, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace), t_start=T_START)
    steal0 = host_steal()
    try:
        with PeakRss() as rss:
            values = WORKLOADS[args.workload](run)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1 = host_steal()
    steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    print(f"host steal during the run: {100 * steal:.1f}%", file=sys.stderr)
    values["peak_rss_mb"] = rss.peak / 2**20
    values["failed_frac"] = run.failed / max(run.attempted, 1)

    for problem in run.problems:
        print(f"check failed: {problem}", file=sys.stderr)
    units = dict(UNITS, **{m["name"]: m["unit"]
                           for m in spec["end_to_end"] + spec["per_layer"]})
    for name, value in values.items():
        print(f"{args.workload} {name} = {value:.6g} {units[name]}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
