"""Compare two sweep summaries (``sweep.py --out``) metric by metric.

    python3 perfbench/compare.py BASE.json NEW.json

Refuses (exit 2) when the two were taken on differently stamped hosts:
core count, master, default parallelism, driver memory, Spark,
PyArrow and Python versions, and input scale must all agree. Otherwise
prints each workload's medians side by side with the change as a share
of the base, and marks end-to-end metrics worse by more than their
BENCHMARK.json bound (exit 1 when any is).
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (_load(p) for p in argv)
    if base.get("stamp") != new.get("stamp"):
        diff = {
            k: (base.get("stamp", {}).get(k), new.get("stamp", {}).get(k))
            for k in set(base.get("stamp", {})) | set(new.get("stamp", {}))
            if base.get("stamp", {}).get(k) != new.get("stamp", {}).get(k)
        }
        print(f"compare: refusing, host stamps differ: {diff}", file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    worse = 0
    for wl, b in base["workloads"].items():
        n = new["workloads"].get(wl)
        if n is None:
            continue
        print(f"== {wl}")
        for name, bm in b["metrics"].items():
            if name not in n["metrics"]:
                continue
            bv, nv = bm["median"], n["metrics"][name]["median"]
            change = (nv - bv) / bv if bv else 0.0
            sign = 1 if better.get(name, "lower") == "lower" else -1
            flag = ""
            if name in bounds and sign * change > bounds[name]:
                flag = f"  WORSE than bound {bounds[name]}"
                worse += 1
            print(f"  {name:26s} {bv:10.4f} -> {nv:10.4f}  {change:+.1%}{flag}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
