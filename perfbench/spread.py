#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py runs.jsonl [more.jsonl ...]

Each input line is the last stdout line of one run.py invocation. Prints, per
metric, the median and the interquartile range as a share of the median
(statistics.quantiles(values, n=4)), next to the metric's bound.
"""
import json
import statistics
import sys
from pathlib import Path


def main(paths):
    bench = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for p in paths:
        for line in Path(p).read_text().splitlines():
            r = json.loads(line)
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        share = (q3 - q1) / med if med else float("inf")
        flag = "" if k not in bounds or share < bounds[k] / 3 else "  <-- above a third of the bound"
        print(f"{k:<24} n={len(vs):<3} median={med:<12.6g} iqr/median={share:.4f} "
              f"bound={bounds.get(k, '-')}{flag}")


if __name__ == "__main__":
    main(sys.argv[1:])
