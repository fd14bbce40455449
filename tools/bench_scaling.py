"""N→4N scaling experiment (north rule: efficiency ≥ 0.8).

Sandbox protocol (BASELINE.md): the identical job on identical input at
parallelism levels local[2]/local[8]/local[32] on one 32-core host.

The scaling metric uses INTERLEAVED rounds: each round runs the
pipeline-only bench once per level back-to-back (2, 8, 32), so every level
samples the same environmental window — this host shows multi-minute
kernel-noise drifts, and sequential whole-suite legs would compare
different conditions (observed: the same leg varying 3x between runs an
hour apart). Per-level docs/sec = median across rounds (each round's value
is itself a median-of-3 inside bench.py after a full warmup pass).

A separate full-suite run per level fills the per-query table.

Results → BENCH.md.  Usage: python tools/bench_scaling.py [n_docs] [rounds]
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
LEVELS = (2, 8, 32)


REPS = 3  # bench.py reps per sample (interpolated into the BENCH.md text)


def run(cpus: int, only: str = "", reps: int = REPS) -> dict:
    # pipeline-only round samples: ONE bench.py pass of `reps` flagship runs
    # (this tool interleaves across levels itself). Full-suite runs: bench.py's
    # own interleaved-passes protocol (reps passes, one run per query per pass).
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SF_DIR=SF_DIR,
        SPARK_GRAFT_BENCH_DOCS=str(N_DOCS),
        SPARK_GRAFT_BENCH_ONLY=only,
        SPARK_GRAFT_BENCH_PASSES="1" if only else str(reps),
        SPARK_GRAFT_BENCH_REPS=str(reps) if only else "1",
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
    # interleaved scaling rounds (pipeline only)
    samples: dict[int, list[float]] = {c: [] for c in LEVELS}
    for _ in range(ROUNDS):
        for c in LEVELS:
            r = run(c, only="pipeline_extract", reps=3)
            samples[c].append(r["extract_docs_per_sec"])
            print(f"round sample cpus={c}: {r['extract_docs_per_sec']} docs/s", flush=True)
    dps = {c: sorted(v)[len(v) // 2] for c, v in samples.items()}
    eff_2_8 = round(dps[8] / dps[2] / 4.0, 3)
    eff_8_32 = round(dps[32] / dps[8] / 4.0, 3)

    # one full-suite run per level for the per-query table
    results = {c: run(c, reps=3) for c in LEVELS}
    for c in LEVELS:  # headline docs/sec = the interleaved median
        results[c]["extract_docs_per_sec"] = dps[c]
        results[c]["scaling_samples"] = samples[c]

    lines = [
        "# BENCH — measured in-sandbox performance\n",
        f"Input: deterministic synthetic corpus ({N_DOCS} pages, seed 42, page "
        "classes incl. 1000-span skew and >1 MiB oversized pages), html stored "
        "gzip-compressed (WARC-faithful; the kernel decompresses worker-side so "
        "compressed bytes cross the Arrow feed), materialized to parquet once "
        f"(untimed) + driver tables at `{SF_DIR}`.\n",
        "Methodology: steady-state — a FULL warmup pass (JIT, codegen cache, "
        "Python workers, OS page cache) is excluded, mirroring the reference's "
        "warmup-skipped timing (det_model/inference.py:117-121); sink = noop "
        f"(full computation, no disk noise); pipeline metric is median-of-{REPS} "
        "(this host shows kernel-time noise storms; a wider median resists "
        "them). Host: one 32-core VM. The noise storms are hypervisor CPU "
        "steal (BENCH.md \"Host steal\"): every raw-JSON block below carries "
        "`host` (worst-pass steal%/busy%; per-pass detail in "
        "`bench_passes.json`) — gate any per-query cell on steal% before "
        "comparing across rounds.\n",
        "## Scaling (north rule: efficiency ≥ 0.8 from N to 4N)\n",
        "Protocol: identical job, identical input, at three parallelism "
        "levels; two N→4N pairs are reported — local[2]→local[8] and "
        "local[8]→local[32]. Levels are sampled in INTERLEAVED rounds "
        "(2,8,32 back-to-back per round, median across rounds) so all "
        "levels see the same environmental window; this host shows "
        "multi-minute kernel-noise drifts that would otherwise dominate a "
        "sequential-leg comparison.\n",
        "Interleaved docs/sec samples per level: "
        + "; ".join(
            f"local[{c}] = {results[c]['scaling_samples']}" for c in (2, 8, 32)
        )
        + "\n",
        "| parallelism | extraction docs/sec | pipeline sec | headline total sec |",
        "| --- | --- | --- | --- |",
    ]
    for c in (2, 8, 32):
        r = results[c]
        label = {2: "local[2]", 8: "local[8]", 32: "local[32]"}[c]
        lines.append(
            f"| {label} | {dps[c]} | {r['queries']['pipeline_extract']} | {r['value']} |"
        )
    lines += [
        f"\n**Scaling efficiency N→4N: local[2]→local[8] = {eff_2_8}; "
        f"local[8]→local[32] = {eff_8_32}**\n",
        "Interpretation (see the attribution experiment in PLANS/commit "
        "history): per-core scaling is clean while the single shared JVM can "
        "feed the workers — /proc sampling during a local[32] run shows the "
        "Python workers mostly *idle in read()* (user CPU ≈ the pure-kernel "
        "cost of the corpus) while both JVM and workers burn 3-4× more "
        "*kernel* time than user time in the loopback-socket Arrow feed "
        "(hardened-usercopy copies + page faults). That feed is a per-JVM "
        "resource: in local mode all 32 slots share ONE JVM's socket path, "
        "so past ~8 cores added slots wait on the same feed. On a real "
        "multi-executor cluster each executor owns its own JVM + Arrow feed "
        "path and the shuffle-free plan has no cross-executor coupling, so "
        "the aggregate scales with executor count — the regime the "
        "local[2]→local[8] pair (unsaturated) evidences.\n",
        "## Per-query seconds\n",
        "| query | local[2] | local[8] | local[32] |",
        "| --- | --- | --- | --- |",
    ]
    for q in results[8]["queries"]:
        lines.append(
            f"| {q} | {results[2]['queries'][q]} | {results[8]['queries'][q]} | {results[32]['queries'][q]} |"
        )
    lines.append("\nRaw JSON:\n")
    lines.append("```")
    for c in (2, 8, 32):
        lines.append(json.dumps(results[c]))
    lines.append("```")
    # preserve the multi-executor section (written by bench_cluster_scaling
    # analysis) across regenerations of the local-mode tables
    bench_md = ROOT / "BENCH.md"
    if bench_md.exists():
        old = bench_md.read_text()
        marker = "## Multi-executor scaling"
        if marker in old:
            lines.append("\n" + old[old.index(marker):].rstrip())
    bench_md.write_text("\n".join(lines) + "\n")
    print(json.dumps({"dps": dps, "eff_2_8": eff_2_8, "eff_8_32": eff_8_32}))


if __name__ == "__main__":
    main()
