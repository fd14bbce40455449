"""N→4N scaling experiment (north rule: efficiency ≥ 0.8).

Protocol (BASELINE.md): the identical job on identical input at two
parallelism levels of one host, local[N] and local[4N] with
4N = ``os.cpu_count()`` (local[1]→local[4] on a 4-vCPU host).

The scaling metric uses INTERLEAVED rounds: each round runs the
pipeline-only bench once per level back-to-back, so both levels sample the
same environmental window — shared hosts show multi-minute noise drifts,
and sequential whole-suite legs would compare different conditions.
Per-level docs/sec = median across rounds (each round's value is itself a
median-of-3 inside bench.py after a full warmup pass). A separate
full-suite run per level gives the per-query seconds.

Usage: python tools/bench_scaling.py [n_docs] [rounds]
Results: one JSON line on stdout — per-level samples and medians, the
efficiency, and per-query seconds per level.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 100000
ROUNDS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_CPUS = os.cpu_count() or 1
LEVELS = (max(1, _CPUS // 4), _CPUS)
REPS = 3  # bench.py reps per sample


def run(cpus: int, only: str = "") -> dict:
    # pipeline-only round samples: ONE bench.py pass of REPS flagship runs
    # (this tool interleaves across levels itself). Full-suite runs: bench.py's
    # own interleaved-passes protocol (REPS passes, one run per query per pass).
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SF_DIR=SF_DIR,
        SPARK_GRAFT_BENCH_DOCS=str(N_DOCS),
        SPARK_GRAFT_BENCH_ONLY=only,
        SPARK_GRAFT_BENCH_PASSES="1" if only else str(REPS),
        SPARK_GRAFT_BENCH_REPS=str(REPS) if only else "1",
        # glibc tuning inherited by the Python workers: avoid mmap/munmap per
        # large (>128 KiB) html string — munmap triggers cross-CPU TLB
        # shootdown IPIs that scale badly with worker count (+19% at 32c)
        MALLOC_TRIM_THRESHOLD_="-1",
        MALLOC_MMAP_THRESHOLD_="134217728",
        MALLOC_ARENA_MAX="2",
    )
    out = subprocess.run(
        [sys.executable, str(ROOT / "bench.py")],
        env=env, capture_output=True, text=True, timeout=3000,
    )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def main() -> None:
    label = {c: f"local[{c}]" for c in LEVELS}
    samples: dict[int, list[float]] = {c: [] for c in LEVELS}
    for _ in range(ROUNDS):
        for c in LEVELS:
            dps = run(c, only="pipeline_extract")["extract_docs_per_sec"]
            samples[c].append(dps)
            print(f"round sample {label[c]}: {dps} docs/s", flush=True)
    median = {c: sorted(v)[len(v) // 2] for c, v in samples.items()}
    lo, hi = LEVELS
    queries = {c: run(c)["queries"] for c in LEVELS}
    print(json.dumps({
        "n_docs": N_DOCS,
        "rounds": ROUNDS,
        "samples": {label[c]: samples[c] for c in LEVELS},
        "docs_per_sec": {label[c]: median[c] for c in LEVELS},
        "efficiency": round(median[hi] / median[lo] / (hi / lo), 3),
        "queries": {
            q: {label[c]: queries[c].get(q) for c in LEVELS} for q in queries[hi]
        },
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
