"""Seeded input tables for the benchmark workloads, generated once per seed.

The benchmark seed picks the page-index offset handed to
``sources.pages.synth_page``; the program under test sees only the parquet
tables written here. Generation and the expected-output oracle
(``sources.pages.expected_extraction``, which never runs detection) are
untimed preparation: a worker pool writes one parquet file per task, and
each task returns the expected hashes of its pages.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import multiprocessing
import os
import shutil

#: page indices per seed: ``synth_page`` derives a timestamp of ``3600*i``
#: seconds after 2024-01-01, which leaves datetime's range past ~7e7, so
#: seeds wrap modulo ``SEED_SLOTS``
SEED_SLOTS = 500
SLOT_PAGES = 100_000
#: oversized pages (index % 1000 == 750) drawn for the long-document corpus
#: come from the upper half of the slot, one per 1000-index block
OVERSIZED_BASE = 50_000

SPAN_SEP = "\x1e"
KIND_SEP = "\x1f"


def spans_digest(spans) -> str:
    """sha256 over the ``(kind, content)`` sequence; ``run.py`` computes the
    same digest inside Spark with ``concat_ws``/``sha2``."""
    s = SPAN_SEP.join(f"{d['kind']}{KIND_SEP}{d['content']}" for d in spans)
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def text_digest(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _slot(seed: int) -> int:
    return (seed % SEED_SLOTS) * SLOT_PAGES


def crawl_indices(seed: int, n: int) -> list[int]:
    """The ``pages_df`` class mix: contiguous indices, so every 1000 pages
    hold one formula-dense and one oversized page."""
    base = _slot(seed)
    return list(range(base, base + n))


def longdoc_indices(seed: int, n: int, first: int = 0) -> list[int]:
    """Every tenth page oversized (~1.1 MiB), the rest the crawl mix.
    ``first`` shifts the window so a later batch holds new urls."""
    base = _slot(seed)
    out = []
    for k in range(first, first + n):
        if k % 10 == 9:
            out.append(base + OVERSIZED_BASE + 1000 * (k // 10) + 750)
        else:
            out.append(base + 10_000 + k)
    return out


def _write_file(args) -> list[tuple[str, str, str]]:
    """Render pages ``idx`` into ``path`` (gzip-stored html, the
    WARC-faithful form) and return ``(url, text_sha, spans_sha)`` each."""
    idx, path = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    from texteller_spark.sources.pages import expected_extraction, synth_page

    cols = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    expected = []
    for i in idx:
        p = synth_page(i)
        cols["url"].append(p["url"])
        cols["warc_ts"].append(p["warc_ts"].replace(tzinfo=None))
        cols["html"].append(gzip.compress(p["html"], 1))
        cols["text"].append(p["text"])
        cols["lang"].append(p["lang"])
        spans, text = expected_extraction(p["_blocks"])
        expected.append((p["url"], text_digest(text), spans_digest(spans)))
    pq.write_table(pa.table(cols), path)
    return expected


def key(tables: dict[str, tuple[list[int], int]]) -> str:
    """Short hash of the table spec (indices and file counts) and of the
    code that renders pages and their expected output: this module and the
    whole ``texteller_spark`` package, since ``expected_extraction`` calls
    into the engine's recognize and assemble operators. Regenerating a
    corpus takes a few seconds."""
    import texteller_spark

    h = hashlib.sha256(json.dumps(tables, sort_keys=True).encode())
    pkg = os.path.dirname(texteller_spark.__file__)
    sources = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(pkg) for f in fs if f.endswith(".py")
    )
    for path in sources + [__file__]:
        h.update(os.path.relpath(path, pkg).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _split(idx: list[int], files: int) -> list[list[int]]:
    step = -(-len(idx) // files)
    return [idx[k : k + step] for k in range(0, len(idx), step)]


def build(root: str, tables: dict[str, tuple[list[int], int]], procs: int) -> dict:
    """Write each ``name -> (indices, files)`` table under ``root/name`` and
    ``root/expected.json`` (url -> [text_sha, spans_sha]) unless ``root``
    already holds them. Returns the expected map."""
    done = os.path.join(root, "expected.json")
    if not os.path.exists(done):
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        jobs = []
        for name, (idx, files) in tables.items():
            os.makedirs(os.path.join(tmp, name))
            jobs += [
                (part, os.path.join(tmp, name, f"part-{k:04d}.parquet"))
                for k, part in enumerate(_split(idx, files))
            ]
        # biggest jobs first so the pool's tail stays short
        jobs.sort(key=lambda j: -len(j[0]))
        # fork: this runs before the Spark session exists, so the process has
        # no threads yet, and unlike spawn it leaves no resource-tracker
        # process running until exit
        with multiprocessing.get_context("fork").Pool(procs) as pool:
            rows = [r for part in pool.map(_write_file, jobs, chunksize=1) for r in part]
            pool.close()
            pool.join()
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump({u: [t, s] for u, t, s in rows}, f)
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
    with open(done) as f:
        return json.load(f)
