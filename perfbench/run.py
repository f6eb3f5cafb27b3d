"""Benchmark entry point.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Starts one Spark session on
``local[nproc]``, runs the named workload for ``--seconds``, checks the
results (see check.py) and prints, as the last line of standard output,
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, with the names and units BENCHMARK.json gives. A line
before it carries sample counts, the tail percentile, host facts and any
failures. The exit code is 0 only when
every check passed.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")


def cpu_steal_s() -> float:
    """Seconds of CPU stolen from this machine by its hypervisor so far."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tail(lat_ms: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, or
    None when the run holds fewer than 20 samples."""
    import numpy as np

    n = len(lat_ms)
    if n < 20:
        return {"percentile": None, "n": n, "max_ms": max(lat_ms)}
    p = math.floor(100.0 * (n - 10) / n)
    return {"percentile": p, "n": n, "value_ms": float(np.percentile(lat_ms, p))}


def end_to_end(res) -> tuple[dict, dict]:
    """→ (metric values, detail) of an untraced run."""
    import numpy as np

    lat_ms = [x * 1000.0 for x in res.latencies_s]
    n = len(lat_ms)
    values = {
        "setup_s": res.setup_s,
        "op_p50_ms": float(np.median(lat_ms)),
        "items_per_s": res.items_per_op * n / sum(res.latencies_s),
    }
    detail = {
        "n": {"setup_s": 1, "op_p50_ms": n, "items_per_s": n},
        "op_tail": tail(lat_ms),
        "cold_op_ms": res.cold_s * 1000.0,
        "op_cpu_ms": res.cpu_s * 1000.0 / n,
        "peak_rss_mb": res.peak_rss_mb,
    }
    return values, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--turns", type=int, default=None,
        help="corpus size override in turns (smoke tests only)",
    )
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("search_engine_framework_spark") is None:
        print(
            f"perfbench: package search_engine_framework_spark not found "
            f"under {ROOT}; run from the root of a checkout",
            file=sys.stderr,
        )
        return 2
    from perfbench import host, workloads

    if args.workload not in workloads.WORKLOADS:
        print(
            f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}",
            file=sys.stderr,
        )
        return 2

    steal0 = cpu_steal_s()
    host.isolate_scratch(CACHE_DIR)
    session = host.Session(CACHE_DIR)
    try:
        ctx = workloads.Context(
            session=session, cache_dir=CACHE_DIR, seed=args.seed,
            seconds=args.seconds, trace=bool(args.trace), t_start=T_START,
            turns=args.turns,
        )
        res = workloads.WORKLOADS[args.workload](ctx)
        facts = session.facts()
    finally:
        session.stop()

    if args.trace:
        values, detail = res.layers, {"n": len(res.latencies_s)}
    else:
        values, detail = end_to_end(res)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    names = {m["name"] for m in spec}
    if set(values) != names:
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ names)}"
        )
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in spec
    }
    failed = len(res.failures)
    print(
        json.dumps(
            {
                "workload": args.workload, "seed": args.seed,
                "host": facts, "samples": detail, "info": res.info,
                "cpu_steal_s": cpu_steal_s() - steal0,
                "latencies_ms": [round(x * 1000.0, 1) for x in res.latencies_s],
                "failures": [f[:2000] for f in res.failures[:20]],
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": res.attempted,
                "failed": min(failed, res.attempted),
                "metrics": metrics,
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
