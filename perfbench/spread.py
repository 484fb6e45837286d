"""Steadiness check: run workloads once per seed and report, for each
end-to-end metric, the median and the interquartile range as a share of
the median, next to the bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload corpus --seeds 1-10 [--seconds N]
    python3 perfbench/spread.py --workload corpus,dsl_people --seeds 7,7,7,7,7

Several workloads run interleaved (each seed in turn on every workload), so
a drift of the machine spreads over all of them alike. A seed may repeat:
repeated runs of one seed measure the same inputs again.
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
ROOT = os.path.dirname(HERE)


def seeds_of(spec: str) -> list[int]:
    seeds = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        seeds += list(range(int(a), int(b) + 1)) if b else [int(a)]
    return seeds


def spread(vals: list[float]) -> float:
    if len(vals) < 2:
        return 0.0
    q = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return (q[2] - q[0]) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, help="one name, or several separated by commas")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    workloads = args.workload.split(",")
    values: dict[str, dict[str, list[float]]] = {w: {} for w in workloads}
    walls: list[float] = []
    for seed in seeds_of(args.seeds):
        for w in workloads:
            t0 = time.perf_counter()
            out = subprocess.run(
                [*bench["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            )
            walls.append(time.perf_counter() - t0)
            if out.returncode != 0:
                print(f"{w} seed {seed}: exit {out.returncode}")
                return 1
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            checks = [ln.split()[1:] for ln in lines if ln.startswith("  check ")]
            print(f"{w} seed {seed}: wall {walls[-1]:.1f}s correct={res['correct']} "
                  + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items())
                  + "".join(f" {k}={float(v):.4g}" for k, v in checks), flush=True)
            for k, m in res["metrics"].items():
                values[w].setdefault(k, []).append(m["value"])
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in workloads:
        print(w)
        for k, vals in values[w].items():
            s, b = spread(vals), bounds[k]
            flag = "ok" if s < b / 3 else ("within bound" if s <= b else "OVER BOUND")
            print(f"  {k:<20} median {statistics.median(vals):<12.5g} spread {s:.4f}  bound {b}  {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
