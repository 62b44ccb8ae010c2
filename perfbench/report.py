"""Steadiness and tracing-overhead report over repeated benchmark runs.

    python3 perfbench/report.py --workloads dedup_similarity,stream_ingest \
        --seeds 1-10 --trace-seeds 1,2 --out report.json

Runs `perfbench/run.py` once per (workload, seed), untraced, and once per
(workload, trace seed) with `--trace 1`, from the current directory (the
root of a checkout). For every end-to-end metric it reports the median,
the quartiles (`statistics.quantiles(values, n=4)`), the spread (the
distance between the quartiles as a share of the median) and the
sample count, and it lists every run's values, its pass times and the
share of CPU time the hypervisor stole during it; for the traced runs
it reports the tracing overhead as the traced `warm_pass_s` minus the
untraced `warm_pass_s`, seed by seed.
Writes the report as JSON to `--out` and prints it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return {"seed": seed, "error": f"exit {proc.returncode}"}
    info = json.loads(lines[-2])
    return {"seed": seed, "wall_s": time.perf_counter() - t0,
            "cpu_steal_share": info["cpu_steal_share"],
            "pass_times_s": info["details"]["pass_times_s"],
            "peak_rss_mb": info["peak_rss_mb"], **json.loads(lines[-1])}


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "n": len(values)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, type=seeds)
    ap.add_argument("--trace-seeds", default="", type=lambda t: seeds(t) if t else [])
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)

    report = {}
    for w in args.workloads.split(","):
        plain = [run(w, s, bench["run_seconds"], 0) for s in args.seeds]
        traced = [run(w, s, bench["run_seconds"], 1) for s in args.trace_seeds]
        ok = [r for r in plain if "metrics" in r]
        entry = {
            "runs": len(plain),
            "errors": [r for r in plain + traced if "error" in r],
            "failed_ops": sum(r["failed"] for r in ok),
            "attempted_ops": sum(r["attempted"] for r in ok),
            "wall_s": summary([r["wall_s"] for r in ok]) if len(ok) > 1 else None,
            "metrics": {m["name"]: summary([r["metrics"][m["name"]]["value"]
                                            for r in ok])
                        for m in bench["end_to_end"]} if len(ok) > 1 else {},
        }
        entry["per_run"] = [
            {"seed": r["seed"], "wall_s": r["wall_s"],
             "cpu_steal_share": r["cpu_steal_share"],
             "peak_rss_mb": r["peak_rss_mb"],
             "pass_times_s": r["pass_times_s"],
             **{m: v["value"] for m, v in r["metrics"].items()}} for r in ok]
        by_seed = {r["seed"]: r["metrics"]["warm_pass_s"]["value"] for r in ok}
        entry["tracing_overhead_s"] = [
            {"seed": r["seed"],
             "traced_warm_pass_s": r["metrics"]["trace.warm_pass_s"]["value"],
             "untraced_warm_pass_s": by_seed.get(r["seed"]),
             "overhead_s": (r["metrics"]["trace.warm_pass_s"]["value"]
                            - by_seed[r["seed"]]) if r["seed"] in by_seed else None}
            for r in traced if "metrics" in r]
        report[w] = entry
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=2)
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
