"""Targeted A/B timing for a subset of registry queries.

Same methodology as bench.py (8 untimed warm-ups, per-execution
clearCache, min-of-3 timed, noise sentinel before/after) but over an
explicit query list, so an optimization can be measured without paying
a full bench sweep per iteration.

Usage: python tools/quiet_bench.py q1 [q2 ...] [--sf DIR] [--cpus N]
                                   [--warmups N] [--runs N]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import _noise_sentinel as sentinel  # noqa: E402 — after the path fix


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", default="32")
    ap.add_argument("--warmups", type=int, default=8)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    s0 = sentinel()
    from impala_cut_spark.plans import REGISTRY
    from impala_cut_spark.session import build_session

    spark = build_session(
        app_name="quiet-bench",
        master=f"local[{args.cpus}]",
        shuffle_partitions=max(8, int(args.cpus) // 2),
    )
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict] = {}
    for name in args.queries:
        spec = REGISTRY[name]
        cold = None
        for i in range(args.warmups):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            spec.spark(spark, args.sf).count()
            if i == 0:
                cold = round(time.perf_counter() - t0, 4)
        per_run = []
        for _ in range(args.runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            spec.spark(spark, args.sf).count()
            per_run.append(round(time.perf_counter() - t0, 4))
        spark.catalog.clearCache()
        out[name] = {"min": min(per_run), "runs": per_run, "cold": cold}
    s1 = sentinel()
    print(json.dumps({"queries": out, "sentinel": [s0, s1]}))
    spark.stop()


if __name__ == "__main__":
    main()
