"""Extraction benchmark: end-to-end and per-layer metrics on local[4].

    python3 perfbench/run.py --workload crawl_spans --seed 1 --seconds 10 --trace 0

Workloads (``--workload all`` runs the three on one session):

* ``crawl_spans`` - gzip-stored crawl pages in the ``pages_df`` class mix
  through ``extract_pages`` (spans + text) into a noop sink.
* ``crawl_text`` - the same corpus through ``extract_pages(...,
  include_spans=False)``: same scan, feed and kernel, almost nothing comes
  back.
* ``longdoc_job`` - ``cli.main --chunk-chars`` on a corpus with 10%
  oversized pages: a fresh parquet write, then ``--resume`` over the corpus
  plus a batch of new pages.

Each run builds one session; each workload then runs a fixed warm-up (its
set-up, together with the session build) and times passes for
``--seconds``. Every url is checked against
``sources.pages.expected_extraction``: for ``crawl_*`` in an untimed pass
before the window, for the job after each pass. ``--trace 1`` also profiles
the kernel in-process and reports the per-layer metrics instead of the
end-to-end ones. The last stdout line is the JSON summary; per-pass
samples, layer tables and trace spans go to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import platform
import random
import re
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
OUT = os.path.join(HERE, "out")

CPUS = 4
#: crawl corpus: the ``pages_df`` class mix (each 1000 pages hold one
#: formula-dense and one oversized page) in 16 small files, which Spark's
#: split planning packs into one scan task per core
CRAWL_PAGES, CRAWL_FILES = 10_000, 16
#: long-document corpus (every tenth page ~1.1 MiB) and the resume batch
LONG_PAGES, LONG_FILES, LONG_NEW = 400, 8, 40
CHUNK_CHARS = 1 << 16
#: crawl warm-up passes: the JVM and the workers keep speeding up for ~40k
#: crawl pages, and the first pass over the corpus is the slowest; the
#: untimed check pass after set-up warms them further
WARM_PASSES = 2
#: in-process kernel trace sample: a seeded window of whole 1000-page (crawl)
#: or 10-page (longdoc) class cycles, so every sample has the same class mix
TRACE_CRAWL_PAGES, TRACE_LONG_PAGES = 2000, 100

E2E_UNITS = {
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s/kdoc",
    "setup_s": "s",
    "peak_rss_mib": "MiB",
    "ok_ops_share": "share",
}
LAYER_UNITS = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    "pipeline.scan_s": "s",
    "pipeline.scan_bytes_per_doc": "B/doc",
    "pipeline.feed_sent_bytes_per_doc": "B/doc",
    "pipeline.feed_returned_bytes_per_doc": "B/doc",
    "pipeline.feed_return_ratio": "ratio",
    "pipeline.python_run_s": "s",
    "pipeline.python_init_s": "s",
    "pipeline.shuffle_write_bytes_per_doc": "B/doc",
    "pipeline.shuffle_read_bytes_per_doc": "B/doc",
    "pipeline.task_skew": "ratio",
    "pipeline.task_s_p99": "s",
    "pipeline.gc_s": "s",
    "pipeline.kernel_passes_per_doc": "count",
    "detect.decode_us_per_doc": "us/doc",
    "detect.detect_us_per_doc": "us/doc",
    "detect.chunk_us_per_doc": "us/doc",
    "detect.chunks_per_doc": "count",
    "detect.math_spans_per_doc": "count",
    "detect.text_spans_per_doc": "count",
    "recognize.math_us_per_doc": "us/doc",
    "recognize.text_us_per_doc": "us/doc",
    "katex.us_per_call": "us",
    "mathml.us_per_call": "us",
    "recognize.cap_hits": "count",
    "assemble.us_per_doc": "us/doc",
    "kernel.pages_per_core_s": "pages/s",
    "checkpoint.phase1_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.written_bytes_per_input_byte": "ratio",
    "checkpoint.resume_rows_ratio": "ratio",
    "host.steal_pct": "%",
    "host.busy_pct": "%",
    "trace.docs_per_s": "docs/s",
    "trace.kernel_overhead": "ratio",
    "trace.kernel_coverage": "share",
}
WORKLOADS = ("crawl_spans", "crawl_text", "longdoc_job")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="corpus-size factor (the self-test runs a tiny corpus)",
    )
    return ap.parse_args(argv)


def configure_env() -> None:
    """Pin the engine's environment knobs and keep every file this run and
    its JVM write (temp files, shuffle, shipped package zip) in the cache."""
    tmp = os.path.join(CACHE, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_TABLE_FORMAT", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(k, None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM="2g",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        # no hsperfdata files in the system temp directory
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    sys.path.insert(0, ROOT)


# -- inputs ------------------------------------------------------------------


class Corpus:
    def __init__(self, kind: str, seed: int, scale: float):
        from perfbench import corpus as C

        if kind == "crawl":
            n = max(20, int(CRAWL_PAGES * scale))
            tables = {"pages": (C.crawl_indices(seed, n), max(4, int(CRAWL_FILES * scale)))}
        else:
            n, new = max(20, int(LONG_PAGES * scale)), max(10, int(LONG_NEW * scale))
            tables = {
                "pages/batch=0": (C.longdoc_indices(seed, n), max(4, int(LONG_FILES * scale))),
                "pages/batch=1": (C.longdoc_indices(seed, new, first=n), 1),
            }
            self.new = new
        # the tables and the generator code are in the key, so a change to
        # either never reuses stale inputs or expected digests
        self.root = os.path.join(CACHE, f"{kind}-s{seed}-x{scale:g}-{C.key(tables)}")
        self.expected = C.build(self.root, tables, CPUS)
        self.pages = os.path.join(self.root, "pages")
        self.first = os.path.join(self.pages, "batch=0") if kind == "long" else self.pages
        self.docs = len(self.expected)

    def sample(self, seed: int, n: int, cycle: int) -> list[tuple[str, bytes]]:
        """A seeded window of ``n`` pages from the first table, starting on
        a class-cycle boundary."""
        import pyarrow.parquet as pq

        files = sorted(f for f in os.listdir(self.first) if f.endswith(".parquet"))
        rows = []
        for f in files:
            t = pq.read_table(os.path.join(self.first, f), columns=["url", "html"])
            rows += zip(t.column("url").to_pylist(), t.column("html").to_pylist())
        n = min(n, len(rows))
        starts = max(1, (len(rows) - n) // cycle + 1)
        start = cycle * random.Random(seed).randrange(starts)
        return rows[start : start + n]


# -- workload passes ---------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def digests(df, spans: bool):
    """(url, sha256(text), sha256(kind/content sequence)) per row, computed
    in Spark the same way ``corpus.spans_digest`` does in Python."""
    from pyspark.sql import functions as F

    from perfbench.corpus import KIND_SEP, SPAN_SEP

    cols = [F.col("url"), F.sha2(F.col("extracted_text"), 256)]
    if spans:
        seq = F.transform(
            "spans", lambda s: F.concat(s["kind"], F.lit(KIND_SEP), s["content"])
        )
        cols.append(F.sha2(F.concat_ws(SPAN_SEP, seq), 256))
    return df.select(*cols)


def check(rows, expected: dict, spans: bool) -> int:
    """Documents whose output row is missing, duplicated or wrong."""
    seen, bad = set(), set()
    for url, text_sha, *spans_sha in rows:
        want = expected.get(url)
        if url in seen or want is None or text_sha != want[0] or (spans and spans_sha[0] != want[1]):
            bad.add(url)
        seen.add(url)
    bad.update(u for u in expected if u not in seen)
    return len(bad)


class CrawlWorkload:
    def __init__(self, spark, corpus: Corpus, spans: bool):
        self.spark, self.corpus, self.spans = spark, corpus, spans
        self.docs = corpus.docs

    def _plan(self):
        from texteller_spark.plans.pipeline import extract_pages

        pages = self.spark.read.parquet(self.corpus.pages)
        return extract_pages(pages, include_spans=self.spans)

    def warm_up(self) -> None:
        for _ in range(WARM_PASSES):
            self.run_pass()

    def run_pass(self) -> dict:
        _noop(self._plan())
        return {}

    def check_pass(self, layers: dict) -> int:
        """The noop sink keeps no rows: check the kernel's row count (when
        a Python node reads the html column at all)."""
        passes = layers["pipeline.kernel_passes_per_doc"]
        return round(abs(passes - 1) * self.docs) if passes else 0

    def check_once(self) -> tuple[int, int]:
        """Untimed extra pass whose output is checked url by url."""
        rows = digests(self._plan(), self.spans).collect()
        return self.docs, check(rows, self.corpus.expected, self.spans)


class LongdocWorkload:
    def __init__(self, spark, corpus: Corpus):
        self.spark, self.corpus = spark, corpus
        self.docs = corpus.docs
        self.out = os.path.join(CACHE, "longdoc-out")

    def _job(self, *args) -> None:
        from texteller_spark import cli

        argv = ["--output", self.out, "--chunk-chars", str(CHUNK_CHARS), *args]
        with contextlib.redirect_stdout(io.StringIO()):
            cli.main(argv)

    def warm_up(self) -> None:
        """The job's first and costliest action (the chunked plan into
        parquet) over one file of the first batch."""
        from texteller_spark.plans.pipeline import extract_pages_chunked

        part = sorted(f for f in os.listdir(self.corpus.first) if f.endswith(".parquet"))[0]
        pages = self.spark.read.parquet(os.path.join(self.corpus.first, part))
        extract_pages_chunked(pages, CHUNK_CHARS).write.mode("overwrite").parquet(self.out)

    def run_pass(self) -> dict:
        shutil.rmtree(self.out, ignore_errors=True)
        t0 = time.time()
        self._job("--input", self.corpus.first, "--run-id", "phase1")
        t1 = time.time()
        self._job("--input", self.corpus.pages, "--run-id", "phase2", "--resume")
        t2 = time.time()
        return {
            "phase1_s": t1 - t0,
            "resume_s": t2 - t1,
            "resume_start_ms": t1 * 1e3,
            "new_docs": self.corpus.new,
        }

    def check_pass(self, layers: dict) -> int:
        """Every url of corpus and new batch exactly once in the output,
        each with the expected text and spans. Also records the output's
        size on disk per input byte."""
        layers["checkpoint.written_bytes_per_input_byte"] = _du(self.out) / _du(self.corpus.pages)
        out = self.spark.read.parquet(os.path.join(self.out, "extracted"))
        return check(digests(out, True).collect(), self.corpus.expected, True)

    def check_once(self) -> tuple[int, int]:
        return 0, 0  # check_pass checks every pass's output


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.startswith(".")
    )


# -- per-pass layer figures from the status store ----------------------------


def _p99(xs: list[float]) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(0.99 * len(xs)))] if xs else 0.0


def pass_layers(execs: list[dict], docs: int, extra: dict) -> dict:
    """One pass's layer figures from its SQL executions; ``extra`` holds
    the job's phase timings."""
    def node_sum(nodes, metric):
        return sum(n["metrics"].get(metric, 0.0) for n in nodes)

    nodes = [n for e in execs for n in e["nodes"]]
    py = [n for n in nodes if "data sent to Python workers" in n["metrics"]]
    # the kernel's entry UDF is the one fed the html column
    kernel = [n for n in py if re.search(r"\bhtml#\d", n["desc"])]
    scans = [n for n in nodes if n["name"].startswith("Scan")]
    stages = [s for e in execs for s in e["stages"]]
    sent = node_sum(py, "data sent to Python workers")
    returned = node_sum(py, "data returned from Python workers")
    heavy = max(stages, key=lambda s: s["run_s"], default=None)
    heavy_tasks = heavy["task_s"] if heavy else []
    out = {
        "pipeline.scan_s": node_sum(scans, "scan time"),
        "pipeline.scan_bytes_per_doc": node_sum(scans, "size of files read") / docs,
        "pipeline.feed_sent_bytes_per_doc": sent / docs,
        "pipeline.feed_returned_bytes_per_doc": returned / docs,
        "pipeline.feed_return_ratio": returned / sent if sent else 0.0,
        "pipeline.python_run_s": node_sum(py, "time to run Python workers"),
        "pipeline.python_init_s": node_sum(py, "time to initialize Python workers"),
        "pipeline.shuffle_write_bytes_per_doc": sum(s["shuffle_write"] for s in stages) / docs,
        "pipeline.shuffle_read_bytes_per_doc": sum(s["shuffle_read"] for s in stages) / docs,
        "pipeline.task_skew": (
            max(heavy_tasks) / statistics.median(heavy_tasks) if heavy_tasks else 0.0
        ),
        "pipeline.task_s_p99": _p99([t for s in stages for t in s["task_s"]]),
        "pipeline.gc_s": sum(s["gc_s"] for s in stages),
        "pipeline.kernel_passes_per_doc": node_sum(kernel, "number of output rows") / docs,
        "checkpoint.phase1_s": extra.get("phase1_s", 0.0),
        "checkpoint.resume_s": extra.get("resume_s", 0.0),
        "checkpoint.resume_rows_ratio": 0.0,
        "checkpoint.written_bytes_per_input_byte": 0.0,
    }
    if "resume_start_ms" in extra:
        # rows the resume run's extracted-table write fed the kernel, per new row
        for e in execs:
            writes = any("/extracted," in n["desc"] for n in e["nodes"])
            if writes and e["start_ms"] >= extra["resume_start_ms"]:
                rows = node_sum([n for n in e["nodes"] if n in kernel], "number of output rows")
                out["checkpoint.resume_rows_ratio"] = rows / extra["new_docs"]
    return out


# -- run ---------------------------------------------------------------------


def make_workload(spark, name: str, corpora: dict):
    if name == "longdoc_job":
        return LongdocWorkload(spark, corpora["long"])
    return CrawlWorkload(spark, corpora["crawl"], spans=name == "crawl_spans")


def stop(spark) -> None:
    """Stop the session, its JVM and the JVM's Python workers, and wait for
    every one of them to end."""
    from pyspark import SparkContext

    from perfbench.proc import tree_pids, wait_gone

    started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        jvm = gw.proc
        gw.shutdown()
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        jvm.wait(timeout=120)
    wait_gone(started, timeout=60)


def run_workload(spark, name: str, wl, seconds: float, seed: int, trace: bool) -> dict:
    """The untimed check, timed passes for ``seconds`` (each checked), and
    with ``trace`` the in-process kernel profile."""
    from perfbench import proc
    from perfbench.status import StatusReader

    run_start = time.time()
    # the crawl check pass runs first: a pass the window need not warm up for
    try:
        attempted, failed = wl.check_once()
    except Exception:
        traceback.print_exc()
        attempted = failed = wl.docs
    status = StatusReader(spark)
    status.new_executions()
    passes, spark_spans = [], []
    host0 = proc.host_ticks()
    deadline = time.perf_counter() + seconds
    while not passes or time.perf_counter() < deadline:
        w0, c0, t0 = time.time(), proc.tree_cpu_s(), time.perf_counter()
        try:
            extra = wl.run_pass()
        except Exception:  # a failed Spark job fails all of its documents
            traceback.print_exc()
            extra = None
        t1, c1, w1 = time.perf_counter(), proc.tree_cpu_s(), time.time()
        execs = status.new_executions()
        sample = {"wall_s": t1 - t0, "cpu_s": c1 - c0, "docs": wl.docs, "failed": wl.docs}
        if extra is not None:
            sample["layers"] = pass_layers(execs, wl.docs, extra)
            sample["failed"] = wl.check_pass(sample["layers"])
            status.new_executions()
        attempted += wl.docs
        failed += sample["failed"]
        passes.append(sample)
        spark_spans.append({"name": "pass", "start_ms": w0 * 1e3, "end_ms": w1 * 1e3, "executions": execs})
    host = proc.host_window(host0, proc.host_ticks())
    rss = proc.tree_hwm_mib()
    spark_spans.append({"name": "run", "start_ms": run_start * 1e3, "end_ms": time.time() * 1e3})

    good = [p for p in passes if "layers" in p] or [
        {"docs": 0, "wall_s": 1.0, "cpu_s": 0.0, "layers": dict.fromkeys(LAYER_UNITS, 0.0)}
    ]
    result = {
        "passes": passes,
        "attempted": attempted,
        "failed": failed,
        "failed_ops_share": failed / attempted,
        "host": host,
        "peak_rss_mib_by_process": rss,
        "e2e": {
            "docs_per_s": statistics.median(p["docs"] / p["wall_s"] for p in good),
            "cpu_s_per_kdoc": statistics.median(1e3 * p["cpu_s"] / max(p["docs"], 1) for p in good),
            "peak_rss_mib": sum(rss.values()),
            "ok_ops_share": max(0.0, 1 - failed / attempted),
        },
        "layers": {k: statistics.median(p["layers"][k] for p in good) for k in good[0]["layers"]},
        "spark_spans": spark_spans,
    }
    result["layers"].update(
        {
            "host.steal_pct": host["steal_pct"],
            "host.busy_pct": host["busy_pct"],
            "trace.docs_per_s": result["e2e"]["docs_per_s"],
        }
    )
    if trace:
        from perfbench import kernel

        if name == "longdoc_job":
            sample = wl.corpus.sample(seed, TRACE_LONG_PAGES, 10)
            km, kspans = kernel.profile(sample, CHUNK_CHARS)
        else:
            sample = wl.corpus.sample(seed, TRACE_CRAWL_PAGES, 1000)
            km, kspans = kernel.profile(sample, 0)
        result["layers"].update(km)
        result["kernel_spans"] = kspans
    return result


def receipt(args) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpus": CPUS,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


def write_side_files(args, results: dict) -> str:
    os.makedirs(OUT, exist_ok=True)
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + "-spans.jsonl", "w") as f:
        for wl, r in results.items():
            for p in r.pop("spark_spans"):
                f.write(json.dumps({"workload": wl, **p}) + "\n")
            for name, doc, parent, t0, t1 in r.pop("kernel_spans", []):
                f.write(json.dumps({"workload": wl, "name": name, "doc": doc, "parent": parent,
                                    "start_ns": t0, "end_ns": t1}) + "\n")
    with open(stem + ".json", "w") as f:
        json.dump({"receipt": receipt(args), "workloads": results}, f, indent=1)
    return stem + ".json"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "texteller_spark")):
        print("perfbench: no texteller_spark package beside perfbench/", file=sys.stderr)
        return 2
    configure_env()
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    corpora = {}
    if any(n.startswith("crawl") for n in names):
        corpora["crawl"] = Corpus("crawl", args.seed, args.scale)
    if "longdoc_job" in names:
        corpora["long"] = Corpus("long", args.seed, args.scale)

    from perfbench.proc import reset_peaks
    from texteller_spark.session import build_session

    # set-up of a workload: the session plus the workload's own fixed
    # warm-up (worker spawn, module imports, JIT; for the job also the
    # parquet writer), run right before its window. With ``all`` the three
    # share one session, built once; each workload's peak RSS is counted
    # from the start of its own warm-up.
    t0 = time.perf_counter()
    spark = build_session("perfbench", cpus=CPUS)
    build_s = time.perf_counter() - t0
    results = {}
    try:
        for n in names:
            wl = make_workload(spark, n, corpora)
            reset_peaks()
            t1 = time.perf_counter()
            wl.warm_up()
            warmup_s = time.perf_counter() - t1
            r = run_workload(spark, n, wl, args.seconds, args.seed, bool(args.trace))
            r["setup"] = {"session.build_s": build_s, "session.warmup_s": warmup_s}
            r["e2e"]["setup_s"] = build_s + warmup_s
            r["layers"].update(r["setup"])
            results[n] = r
    finally:
        stop(spark)
    side = write_side_files(args, results)

    units = LAYER_UNITS if args.trace else E2E_UNITS
    metrics = {}
    for n, r in results.items():
        src = r["layers"] if args.trace else r["e2e"]
        prefix = f"{n}." if len(names) > 1 else ""
        metrics.update({prefix + k: {"value": src[k], "unit": u} for k, u in units.items()})
        print(
            f"{n}: docs_per_s={r['e2e']['docs_per_s']:.1f} "
            f"cpu_s_per_kdoc={r['e2e']['cpu_s_per_kdoc']:.3f} setup_s={r['e2e']['setup_s']:.2f} "
            f"peak_rss_mib={r['e2e']['peak_rss_mib']:.0f} failed_ops_share={r['failed_ops_share']:.4g} "
            f"passes={len(r['passes'])} steal%={r['host']['steal_pct']:.1f}"
        )
    print(f"side file: {os.path.relpath(side, ROOT)}")
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    print(json.dumps(
        {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics},
        separators=(",", ":"),
    ))
    return 0


if __name__ == "__main__":
    sys.exit(main())
