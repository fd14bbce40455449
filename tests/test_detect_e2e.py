"""Detection + recognition + assembly e2e over the tiny corpus (no Spark).

The oracle is the generator's *logical* ground truth (block/span structure it
embedded), independent of the detection code: detection must recover kinds,
raw payloads, block grouping, and the byte-identical assembled output from
raw page bytes alone.
"""

import pytest

from texteller_spark.operators.assemble import assemble_document
from texteller_spark.operators.detect import decode_page, detect_document
from texteller_spark.operators.recognize import recognize_span
from texteller_spark.schema import DETECT_CONF_THRESHOLD
from texteller_spark.sources.pages import (
    TINY_CLASSES,
    expected_extraction,
    synth_page,
    tiny_corpus,
)

CORPUS = tiny_corpus()


def run_pipeline_pure(html_bytes):
    doc = decode_page(html_bytes)
    spans = detect_document(doc)
    out = []
    for s in spans:
        d = s._asdict()
        d["content"] = recognize_span(s.kind, s.raw)
        out.append(d)
    return doc, out, assemble_document(out)


@pytest.mark.parametrize("page", CORPUS, ids=[p["_class"] + str(i) for i, p in enumerate(CORPUS)])
def test_e2e_byte_identity(page):
    exp_spans, exp_text = expected_extraction(page["_blocks"])
    doc, got_spans, got_text = run_pipeline_pure(page["html"])

    assert [s["kind"] for s in got_spans] == [s["kind"] for s in exp_spans]
    # math payloads must be recovered byte-exactly from the page source;
    # text runs after normalization
    for g, e in zip(got_spans, exp_spans):
        if g["kind"] == "text":
            assert g["content"] == e["content"]
        else:
            assert g["raw"] == e["raw"]
            assert g["content"] == e["content"]
    # block grouping pattern must be isomorphic (ids may differ by a shift)
    def grouping(spans):
        seen, out = {}, []
        for s in spans:
            out.append(seen.setdefault(s["block_id"], len(seen)))
        return out

    assert grouping(got_spans) == grouping(exp_spans)
    # THE invariant: byte-identical extracted text per url
    assert got_text == exp_text


@pytest.mark.parametrize("page", CORPUS, ids=[p["_class"] + str(i) for i, p in enumerate(CORPUS)])
def test_offsets_are_exact_provenance(page):
    """Math span offsets must slice the decoded document to the raw source;
    offsets are monotone and non-overlapping (mask disjointness). No span
    is emitted below the P1 threshold: the kernels rely on detection alone
    for the confidence filter."""
    doc = decode_page(page["html"])
    spans = detect_document(doc)
    prev_end = 0
    for s in spans:
        assert s.confidence >= DETECT_CONF_THRESHOLD
        assert 0 <= s.char_start < s.char_end <= len(doc)
        assert s.char_start >= prev_end  # disjoint, reading order
        prev_end = s.char_end
        if s.kind != "text":
            assert doc[s.char_start : s.char_end] == s.raw


def test_currency_stays_text():
    page = synth_page(TINY_CLASSES.index("currency"), tiny=True)
    doc = decode_page(page["html"])
    spans = detect_document(doc)
    assert all(s.kind == "text" for s in spans)
    joined = " ".join(s.raw for s in spans)
    assert "$5" in joined and "$10" in joined
    # low-confidence single-dollar matches stay text, never sub-threshold spans
    for html in ("<p>$5 and $10</p>", "<p>from $3 to $4, or $x^2$ for $7 and $8</p>",
                 "<p>$5 and $10</p><p>$a$ costs $2 or $3</p>"):
        spans = detect_document(decode_page(html))
        assert spans
        assert all(s.confidence >= DETECT_CONF_THRESHOLD for s in spans)


def test_boilerplate_suppressed():
    page = synth_page(0, tiny=True)
    _, spans, text = run_pipeline_pure(page["html"])
    blob = " ".join(s["content"] for s in spans)
    for junk in ("Home", "About", "synth.test archive", "all rights reserved",
                 "margin", "price"):
        assert junk not in blob
    assert text  # non-empty extraction


def test_latin1_fallback():
    page = synth_page(TINY_CLASSES.index("latin1"), tiny=True)
    assert b"\xe9" in page["html"]  # é in latin-1: invalid standalone UTF-8
    _, spans, text = run_pipeline_pure(page["html"])
    assert "café" in text


def test_tag_folding():
    page = synth_page(TINY_CLASSES.index("mixed_tag"), tiny=True)
    _, _, text = run_pipeline_pure(page["html"])
    assert "\\tag{" in text
    assert "(" not in text.split("\\tag{")[1][:4]


def test_skew_page_span_count():
    page = synth_page(TINY_CLASSES.index("skew"), tiny=True)
    doc = decode_page(page["html"])
    spans = detect_document(doc)
    assert sum(1 for s in spans if s.kind == "embedding") == 1000


def test_oversized_page():
    page = synth_page(TINY_CLASSES.index("oversized"), tiny=True)
    assert len(page["html"]) > 1 << 20
    doc = decode_page(page["html"])
    spans = detect_document(doc)
    assert sum(1 for s in spans if s.kind == "isolated") == 1


def test_decode_page_transparent_gzip():
    """WARC-style gzipped payloads extract identically to raw bytes."""
    import gzip

    from texteller_spark.operators.detect import decode_page, detect_document

    raw = "<html><body><p>hello $x^{2}$ world</p></body></html>".encode()
    assert decode_page(gzip.compress(raw)) == decode_page(raw)
    spans_gz = detect_document(decode_page(gzip.compress(raw)))
    spans_raw = detect_document(decode_page(raw))
    assert spans_gz == spans_raw
    # corrupt data that happens to start with the gzip magic → raw fallback
    fake = b"\x1f\x8bnot really gzip"
    assert isinstance(decode_page(fake), str)
