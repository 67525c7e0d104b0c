"""Repeat the benchmark over seeds and summarise how far each end-to-end
metric spreads: the evidence behind each bound in BENCHMARK.json.

    python3 perfbench/spread.py --seeds 1-10 --out perfbench/reference/spread.json

Run it from the repository root. Each (seed, workload) pair is one
untraced run of ``run.py`` in its own process; seeds are the outer loop,
so slow drift of the host spreads over every workload alike. The output
holds, per workload and metric, the ten values, their median and the
quartile spread (IQR / median, quartiles as ``statistics.quantiles(n=4)``
gives them), next to the metric's bound, plus each run's wall time.
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


def seed_list(text: str) -> list[int]:
    """``"1-10"`` or ``"1,4,7"`` -> seeds."""
    if "-" in text:
        lo, hi = (int(x) for x in text.split("-"))
        return list(range(lo, hi + 1))
    return [int(x) for x in text.split(",")]


def one_run(workload: str, seed: int, seconds: int) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=400,
    )
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n"
                           f"{proc.stderr[-3000:]}")
    return {"seed": seed, "wall_s": wall, "info": json.loads(lines[-2])["info"],
            **json.loads(lines[-1])}


def summarise(runs: list[dict], bounds: dict[str, float]) -> dict:
    out = {}
    for name, bound in bounds.items():
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _q2, q3 = statistics.quantiles(values, n=4)
        out[name] = {"median": med, "spread": (q3 - q1) / med, "bound": bound,
                     "values": values}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="",
                    help="comma-separated; default: every workload declared")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = ([w for w in args.workloads.split(",") if w]
                 or [w["name"] for w in bench["workloads"]])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    for seed in seed_list(args.seeds):
        for w in workloads:
            r = one_run(w, seed, bench["run_seconds"])
            runs[w].append(r)
            print(json.dumps({"workload": w, "seed": seed, "wall_s": round(r["wall_s"], 1),
                              "correct": r["correct"]}), flush=True)
    report = {
        "run_seconds": bench["run_seconds"],
        "workloads": {
            w: {"wall_s": [r["wall_s"] for r in rs],
                "all_correct": all(r["correct"] for r in rs),
                "host": {k: rs[0]["info"][k] for k in ("nproc", "ram_gb", "pyspark")},
                "metrics": summarise(rs, bounds),
                "info": {r["seed"]: r["info"] for r in rs}}
            for w, rs in runs.items()
        },
    }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
    for w, rep in report["workloads"].items():
        print(w, {n: round(m["spread"], 3) for n, m in rep["metrics"].items()})
    return 0


if __name__ == "__main__":
    sys.exit(main())
