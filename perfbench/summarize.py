"""Median, quartiles and spread of each metric over a set of run records.

    python3 perfbench/summarize.py perfbench/results/point-seed1*-trace0-*.json ...

Groups the records by workload and prints, per metric, the median, the
first and third quartile (``statistics.quantiles(values, n=4)``) and the
spread: quartile distance / median, the figure a metric's bound in
BENCHMARK.json is checked against. ``--json`` prints the same as JSON,
with one line per run; ``perfbench/baseline.json`` was written that way.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def summary(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("records", nargs="+")
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}

    by: dict[str, list[dict]] = {}
    for path in args.records:
        with open(path) as f:
            r = json.load(f)
        if r["args"]["trace"] == 0:
            by.setdefault(r["args"]["workload"], []).append(r)
    out = {}
    for wl, runs in sorted(by.items()):
        runs.sort(key=lambda r: r["args"]["seed"])
        metrics = {}
        for name, m in spec.items():
            vals = [r["end_to_end"][name] for r in runs]
            metrics[name] = {"unit": m["unit"], **summary(vals), "bound": m["bound"]}
        out[wl] = {"end_to_end": metrics, "runs": [
            {"seed": r["args"]["seed"], "run_wall_s": round(r["run_wall_s"], 1),
             "attempted": r["result"]["attempted"], "failed": r["result"]["failed"],
             "n_queries": r["n_queries"],
             "cpu_steal_share": round(r["environment"]["cpu_steal_share"], 4),
             "wall_query_p50_ms": round(r["query_p50_ms"], 3),
             "wall_qps": round(r["qps"], 3)}
            for r in runs]}
    if args.json:
        json.dump(out, sys.stdout, indent=1)
        print()
        return 0
    for wl, s in out.items():
        walls = [r["run_wall_s"] for r in s["runs"]]
        print(f"{wl}: {len(walls)} runs, {min(walls)}-{max(walls)} s each")
        for name, m in s["end_to_end"].items():
            flag = "" if name == "setup_s" or m["spread"] <= m["bound"] else "  OVER BOUND"
            print(f"  {name:28s} {m['median']:12.4f} {m['unit']:14s} "
                  f"spread {m['spread']:.3f} (bound {m['bound']}){flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
