"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/sweep.py --runs 10 [--workloads analytics_mix,...]
        [--trace 0] [--out .perfbench/sweep.json]

Each run is a fresh ``run.py`` process, seeds 1 to ``--runs``, with
``run_seconds`` from BENCHMARK.json. For every metric the summary gives
the median, the quartiles (``statistics.quantiles(values, n=4)``) and the spread
(interquartile distance ÷ median), and marks end-to-end metrics whose
spread is not below a third of their bound. The output file holds the
host stamp of the runs, so ``compare.py`` can refuse records taken on
another host.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarise(values: list[float]) -> dict[str, float]:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "n": len(values),
    }


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(final result line, record) of one benchmark process."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])["record"]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench", "sweep.json"))
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = {"seconds": bench["run_seconds"], "trace": args.trace, "workloads": {}}
    ok = True
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        failed = 0
        durations = []
        runs = []
        for seed in range(1, args.runs + 1):
            res, rec = run_once(wl, seed, bench["run_seconds"], args.trace)
            out["stamp"] = {k: v for k, v in rec["stamp"].items() if k != "source"}
            out["source"] = rec["stamp"]["source"]
            failed += res["failed"] + (not res["correct"])
            durations.append(rec["process_s"])
            runs.append(
                {k: rec[k] for k in ("seed", "setups", "laps", "lap_cpu", "traced_laps", "ops",
                                     "host_steal_frac")}
            )
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{wl} seed {seed}: {rec['process_s']:.1f}s "
                  + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
                  file=sys.stderr, flush=True)
        summary = {name: summarise(v) for name, v in values.items()}
        for name, s in summary.items():
            bound = bounds.get(name)
            s["bound"] = bound
            s["steady"] = bound is None or s["spread"] < bound / 3
            ok &= s["steady"]
        out["workloads"][wl] = {
            "metrics": summary,
            "failed": failed,
            "process_s": summarise(durations),
            "runs": runs,
        }
        ok &= failed == 0
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    for wl, w in out["workloads"].items():
        print(f"== {wl} (failed {w['failed']}, process {w['process_s']['median']:.1f}s)")
        for name, s in w["metrics"].items():
            flag = "" if s["steady"] else "  <-- spread not below bound/3"
            print(f"  {name:26s} median {s['median']:10.4f}  spread {s['spread']:.3f}"
                  f"  bound {s['bound']}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
