"""Runs the benchmark over several seeds and summarises each metric.

    python3 perfbench/baseline.py --seeds 1-10 --out perfbench/baseline.json

For every workload in ``BENCHMARK.json`` it runs ``run.py`` once per seed
with ``--trace 0`` (and once with ``--trace 1`` on the first seed), one run
at a time, and records each end-to-end metric's median, quartiles and
spread (quartile distance over the median, as ``statistics.quantiles``
gives them), the per-layer table of the traced run, and a host receipt.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.exit(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-4000:]}")
    summary = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, "out", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        side = json.load(f)
    summary["receipt"] = side["receipt"]
    summary["steal_pct"] = side["workloads"][workload]["host"]["steal_pct"]
    return summary


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "values": values}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--out", required=True, help="write the summary JSON here")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    out = {"run_seconds": bench["run_seconds"], "seeds": args.seeds, "workloads": {}}
    for name in names:
        runs = []
        for seed in seeds(args.seeds):
            r = run(bench, name, seed, 0)
            runs.append(r)
            print(name, seed, {k: round(v["value"], 4) for k, v in r["metrics"].items()},
                  flush=True)
        traced = run(bench, name, seeds(args.seeds)[0], 1)
        out["workloads"][name] = {
            "receipt": runs[0]["receipt"],
            "steal_pct": [r["steal_pct"] for r in runs],
            "correct": all(r["correct"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "end_to_end": {
                m["name"]: {"unit": m["unit"],
                            **summarise([r["metrics"][m["name"]]["value"] for r in runs])}
                for m in bench["end_to_end"]
            },
            "per_layer": traced["metrics"],
        }
        for m, s in out["workloads"][name]["end_to_end"].items():
            print(f"  {name} {m}: median {s['median']:.4g} spread {s['spread']:.3f}", flush=True)
    with open(os.path.join(ROOT, args.out), "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
