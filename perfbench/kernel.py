"""In-process kernel trace: the extraction kernel's public functions, called
from the benchmark on a sample of pages, one span per call.

A span is ``(name, doc, parent, start_ns, end_ns)``; ``doc`` (the page url)
is the identifier shared by the spans of one page. The traced and the plain
repetitions run the same code, the pipeline's own ``extract_page_kernel``
(or, for the chunked job, ``chunk_document(decode_page(...))`` then
``recognize_piece_kernel`` per piece, as its UDFs do). While a traced
repetition runs, the names those kernels call the operators by, in
``plans.pipeline`` and (for KaTeX/MathML) in ``operators.recognize``, are
swapped for timing wrappers.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

from texteller_spark.operators import recognize as _rec
from texteller_spark.operators.recognize import MAX_REC_CHARS
from texteller_spark.plans import pipeline as _pl

#: self-time layers; everything else inside a page span is kernel glue
LAYERS = (
    "decode", "chunk", "detect", "recognize.text", "recognize.math",
    "katex", "mathml", "assemble",
)


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self.doc = None
        self.cap_hits = 0
        self._stack: list[int] = []

    def call(self, name, fn, *args):
        sid = len(self.spans)
        self.spans.append(None)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter_ns()
        try:
            return fn(*args)
        finally:
            t1 = time.perf_counter_ns()
            self._stack.pop()
            self.spans[sid] = (name, self.doc, parent, t0, t1)

    @contextmanager
    def swapped(self):
        """Swap the operator names the kernels call for timing wrappers."""
        saved = [
            (mod, name, getattr(mod, name))
            for mod, names in (
                (_pl, ("decode_page", "chunk_document", "detect_document",
                       "recognize_span", "assemble_document")),
                (_rec, ("latex_to_katex", "mathml_to_latex")),
            )
            for name in names
        ]
        fns = {name: fn for _mod, name, fn in saved}

        def recognize(kind, raw):
            layer = "recognize.text" if kind == "text" else "recognize.math"
            return self.call(layer, fns["recognize_span"], kind, raw)

        def katex(s):
            out = self.call("katex", fns["latex_to_katex"], s)
            # recognize_span cuts this output at the K3 decode cap
            self.cap_hits += len(out) > MAX_REC_CHARS
            return out

        wrappers = {
            "decode_page": lambda h: self.call("decode", fns["decode_page"], h),
            "chunk_document": lambda t, n: self.call("chunk", fns["chunk_document"], t, n),
            "detect_document": lambda t: self.call("detect", fns["detect_document"], t),
            "recognize_span": recognize,
            "assemble_document": lambda s: self.call("assemble", fns["assemble_document"], s),
            "latex_to_katex": katex,
            "mathml_to_latex": lambda s: self.call("mathml", fns["mathml_to_latex"], s),
        }
        for mod, name, _fn in saved:
            setattr(mod, name, wrappers[name])
        try:
            yield
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)


def _page(html, chunk_chars: int) -> str:
    """One page through the kernel: ``extract_page_kernel``, or with
    ``chunk_chars`` the chunked job's per-page work (chunk UDF, piece
    kernel per chunk, assembly of the pieces' spans)."""
    if not chunk_chars:
        return _pl.extract_page_kernel(html)[1]
    spans = [
        d
        for off, piece in _pl.chunk_document(_pl.decode_page(html), chunk_chars)
        for d in _pl.recognize_piece_kernel(piece, off)
    ]
    return _pl.assemble_document(spans)


def profile(pages: list[tuple[str, bytes]], chunk_chars: int, reps: int = 3) -> tuple[dict, list]:
    """Per-layer self times over ``pages`` (url, html), the untraced
    single-core throughput, and the tracing overhead; untraced and traced
    repetitions alternate so both see the same warm state. Returns
    (metrics, spans of the last traced repetition)."""
    plain, traced = [], []
    tr = Tracer()
    for _ in range(reps):
        last = len(tr.spans)
        t0 = time.perf_counter()
        for _url, html in pages:
            _page(html, chunk_chars)
        t1 = time.perf_counter()
        with tr.swapped():
            for url, html in pages:
                tr.doc = url
                tr.call("page", _page, html, chunk_chars)
        plain.append(t1 - t0)
        traced.append(time.perf_counter() - t1)
    plain_s = statistics.median(plain)

    total = {k: 0 for k in LAYERS + ("page",)}
    calls = dict.fromkeys(total, 0)
    child = [0] * len(tr.spans)
    for name, _doc, parent, t0, t1 in tr.spans:
        if parent is not None:
            child[parent] += t1 - t0
    for (name, _doc, _parent, t0, t1), c in zip(tr.spans, child):
        total[name] += t1 - t0 - c
        calls[name] += 1
    page_ns = sum(t1 - t0 for name, _d, _p, t0, t1 in tr.spans if name == "page")
    n = len(pages) * reps

    def per_doc(k):
        return total[k] / n / 1e3

    def per_call(k):
        return total[k] / calls[k] / 1e3 if calls[k] else 0.0

    metrics = {
        "detect.decode_us_per_doc": per_doc("decode"),
        "detect.detect_us_per_doc": per_doc("detect"),
        "detect.chunk_us_per_doc": per_doc("chunk"),
        "detect.chunks_per_doc": (calls["detect"] / n) if chunk_chars else 0.0,
        "detect.math_spans_per_doc": calls["recognize.math"] / n,
        "detect.text_spans_per_doc": calls["recognize.text"] / n,
        "recognize.math_us_per_doc": per_doc("recognize.math"),
        "recognize.text_us_per_doc": per_doc("recognize.text"),
        "katex.us_per_call": per_call("katex"),
        "mathml.us_per_call": per_call("mathml"),
        "recognize.cap_hits": tr.cap_hits // reps,
        "assemble.us_per_doc": per_doc("assemble"),
        "kernel.pages_per_core_s": len(pages) / plain_s,
        "trace.kernel_coverage": sum(total[k] for k in LAYERS) / page_ns,
        "trace.kernel_overhead": statistics.median(traced) / plain_s,
    }
    # the repetitions trace the same calls: keep the last one's spans
    spans = [
        (name, doc, None if parent is None else parent - last, t0, t1)
        for name, doc, parent, t0, t1 in tr.spans[last:]
    ]
    return metrics, spans
