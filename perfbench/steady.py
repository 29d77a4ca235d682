"""Repeat mode: run every workload of BENCHMARK.json N times for its
``run_seconds``, on seeds 2000, 2001, …, and report per end-to-end
metric the median, the quartiles, the inter-quartile spread as a share
of the median, and the max–min spread, beside the metric's bound.

    python3 perfbench/steady.py --runs 10 [--json FILE] [--md FILE]

Each workload also gets one traced run on the first seed, which gives
the tracing overhead: the traced run's end-to-end numbers against the
untraced run of the same seed.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
FIRST_SEED = 2000


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return {
        "seed": seed,
        "trace": trace,
        "run_s": time.perf_counter() - t0,
        "detail": json.loads(lines[-2])["detail"],
        "result": json.loads(lines[-1]),
    }


def summarize(values: list[float], bound: float) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / med,
        "range_share": (max(values) - min(values)) / med,
        "bound": bound,
        "within_third_of_bound": (q3 - q1) / med < bound / 3,
    }


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10, help="at least 2")
    ap.add_argument("--json")
    ap.add_argument("--md")
    args = ap.parse_args()
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report: dict = {"runs": args.runs, "seconds": seconds, "workloads": {}}
    md = [
        f"# Steadiness: {args.runs} runs per workload, seeds {FIRST_SEED}–"
        f"{FIRST_SEED + args.runs - 1}, --seconds {seconds}",
        "",
    ]
    for wl in (w["name"] for w in spec["workloads"]):
        runs = []
        for i in range(args.runs):
            r = run_once(wl, FIRST_SEED + i, seconds, 0)
            runs.append(r)
            m = {k: round(v["value"], 4) for k, v in r["result"]["metrics"].items()}
            print(f"{wl} seed={r['seed']} run_s={r['run_s']:.1f} {m}", file=sys.stderr, flush=True)
        summary = {
            name: summarize([r["result"]["metrics"][name]["value"] for r in runs], bound)
            for name, bound in bounds.items()
        }
        entry = {"summary": summary, "runs": runs}
        md += [
            f"## {wl}",
            "",
            f"Run wall time: median {statistics.median(r['run_s'] for r in runs):.1f} s, "
            f"max {max(r['run_s'] for r in runs):.1f} s. Every run correct: "
            f"{all(r['result']['correct'] for r in runs)}.",
            "",
            "| metric | median | q1 | q3 | IQR/median | (max-min)/median | bound |",
            "|---|---|---|---|---|---|---|",
        ]
        for name, s in summary.items():
            md.append(
                f"| {name} | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} | "
                f"{s['iqr_share']:.3f} | {s['range_share']:.3f} | {s['bound']} |"
            )
        md.append("")
        t = run_once(wl, FIRST_SEED, seconds, 1)
        traced = t["detail"]["traced_end_to_end"]
        base = runs[0]["result"]["metrics"]
        overhead = {k: traced[k] / base[k]["value"] - 1 for k in traced if k != "setup_s"}
        entry["traced"] = {
            "seed": t["seed"],
            "per_layer": {k: v["value"] for k, v in t["result"]["metrics"].items()},
            "overhead_share": overhead,
        }
        md += [
            f"Tracing overhead (traced ÷ untraced − 1, seed {t['seed']}): "
            + ", ".join(f"{k} {v:+.3f}" for k, v in overhead.items()),
            "",
        ]
        report["workloads"][wl] = entry
    text = "\n".join(md)
    print(text)
    if args.json:
        Path(args.json).write_text(json.dumps(report, indent=1) + "\n")
    if args.md:
        Path(args.md).write_text(text + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
