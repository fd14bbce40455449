"""W5 chunked-overlap scanning: piece-wise detection over safe split points
must be EXACTLY equivalent to the single-pass scan — per page class, on a
≥64 MiB page, and end-to-end through Spark.

The reference's analog is sliced detection with overlap + rollback
(predict_det.py:198-297); in the byte domain safe split points make the
overlap degenerate, so equivalence is exact, not approximate.
"""

from __future__ import annotations

import pytest

from texteller_spark.operators.detect import (
    chunk_document,
    decode_page,
    detect_document,
    safe_split_points,
)
from texteller_spark.operators.assemble import assemble_document
from texteller_spark.operators.recognize import recognize_span
from texteller_spark.plans.pipeline import recognize_piece_kernel
from texteller_spark.schema import DETECT_CONF_THRESHOLD
from texteller_spark.sources.pages import synth_page, tiny_corpus


def _unchunked_recognized(doc: str) -> list[dict]:
    out = []
    for s in detect_document(doc):
        if s.confidence < DETECT_CONF_THRESHOLD:
            continue
        d = s._asdict()
        d["content"] = recognize_span(s.kind, s.raw)
        out.append(d)
    return out


def _chunked_recognized(doc: str, target: int) -> list[dict]:
    out = []
    for off, piece in chunk_document(doc, target):
        out.extend(recognize_piece_kernel(piece, off))
    return out


_COMPARE = ("kind", "char_start", "char_end", "raw", "content")


def _key(spans):
    return [tuple(d[c] for c in _COMPARE) for d in spans]


@pytest.mark.parametrize("target", [200, 1000, 5000])
def test_chunked_equals_unchunked_every_page_class(target):
    for page in tiny_corpus():
        doc = decode_page(page["html"])
        un = _unchunked_recognized(doc)
        ch = _chunked_recognized(doc, target)
        assert _key(ch) == _key(un), page["url"]
        # byte-identical assembly (block grouping preserved across chunks)
        assert assemble_document(ch) == assemble_document(un), page["url"]


def test_chunk_offsets_partition_the_document():
    doc = decode_page(synth_page(750)["html"])  # oversized class, >1 MiB
    chunks = chunk_document(doc, 100_000)
    assert len(chunks) > 5
    pos = 0
    for off, piece in chunks:
        assert off == pos
        pos += len(piece)
    assert pos == len(doc)
    # every split point is a block-tag start
    for p in safe_split_points(doc, 100_000):
        assert doc[p] == "<"


def test_64mib_page_extracts_byte_identically():
    """The VERDICT gate: a ≥64 MiB synthetic page, chunked at 1 MiB, must
    extract byte-identically to the unchunked kernel (and produce ≥64
    bounded chunks instead of one unbounded task)."""
    base = decode_page(synth_page(750)["html"])  # ~1.1 MiB, math + text
    head, tail = base.split("<main>", 1)
    body, foot = tail.rsplit("</main>", 1)
    doc = head + "<main>" + body * 60 + "</main>" + foot
    assert len(doc) >= 64 * 1024 * 1024

    chunks = chunk_document(doc, 1 << 20)
    assert len(chunks) >= 60
    assert max(len(p) for _, p in chunks) < (1 << 20) + (1 << 18)

    un = _unchunked_recognized(doc)
    ch = _chunked_recognized(doc, 1 << 20)
    assert _key(ch) == _key(un)
    assert assemble_document(ch) == assemble_document(un)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _TOKENS = st.sampled_from(
        [
            "word ", "x ", "$a+b$ ", "$$E=mc^{2}$$", r"\(y\) ", r"\[z\]",
            "$5 and $10 ", "<p>", "</p>", "<div>", "</div>", "<br/>",
            "<b>", "</b>", "<script>", "</script>", "<style>", "</style>",
            "<math><mi>x</mi></math>", '<math display="block"><mi>q</mi></math>',
            "<!-- c -->", "&amp; ", "café ", "<h1>", "</h1>", "<li>", "</li>",
            "<p", ">", "<", "$", "\\",
            "< /p>", "<P\n>", "<Math>", "</math >", "<!DOCTYPE html>",
            '<?xml version="1.0"?>', "<![CDATA[ <p>$x^2$ ]]>", "<SCRIPT >",
            "</ script>", "<svg/>", "<nav>", "</nav>",
        ]
    )

    @given(st.lists(_TOKENS, min_size=0, max_size=120), st.integers(16, 400))
    @settings(max_examples=150, deadline=None)
    def test_chunked_equivalence_fuzz(tokens, target):
        """Property: for ANY tag soup (unbalanced tags, stray $/backslashes,
        math at chunk borders, suppressed subtrees), piece-wise detection
        over safe split points equals the single-pass scan."""
        doc = "".join(tokens)
        un = _unchunked_recognized(doc)
        ch = _chunked_recognized(doc, target)
        assert _key(ch) == _key(un)
        assert assemble_document(ch) == assemble_document(un)

except ImportError:  # pragma: no cover
    pass


def test_spark_chunked_pipeline_matches_flagship(spark):
    from pyspark.sql import functions as F

    from texteller_spark.plans.pipeline import extract_pages, extract_pages_chunked
    from texteller_spark.sources.pages import pages_df

    pages = pages_df(spark, 40, partitions=4)
    flag = {
        r["url"]: r["extracted_text"]
        for r in extract_pages(pages).select("url", "extracted_text").collect()
    }
    chunked = {
        r["url"]: r["extracted_text"]
        for r in extract_pages_chunked(pages, max_chunk_chars=1000)
        .select("url", "extracted_text")
        .collect()
    }
    assert chunked == flag
    # span payloads match on semantic fields too
    sflag = extract_pages(pages).select(
        "url", F.explode("spans").alias("s")
    ).select("url", "s.span_id", "s.kind", "s.char_start", "s.char_end", "s.raw", "s.content")
    schunk = extract_pages_chunked(pages, max_chunk_chars=1000).select(
        "url", F.explode("spans").alias("s")
    ).select("url", "s.span_id", "s.kind", "s.char_start", "s.char_end", "s.raw", "s.content")
    assert sorted(map(tuple, sflag.collect())) == sorted(map(tuple, schunk.collect()))


def test_span_table_matches_flagship_spans(spark):
    """S5 rows are the flagship's exploded spans: every span field plus
    ``content``, one row per span, a span-less page as one all-null row."""
    from collections import Counter

    from pyspark.sql import functions as F

    from texteller_spark.plans.pipeline import extract_pages, span_table
    from texteller_spark.sources.pages import pages_df

    pages = pages_df(spark, 40, partitions=4)
    flag = (
        extract_pages(pages)
        .select("url", F.explode_outer("spans").alias("s"))
        .select("url", "s.*")
    )
    table = span_table(pages)
    assert table.columns == flag.columns
    assert Counter(map(tuple, table.collect())) == Counter(map(tuple, flag.collect()))


def test_assembled_span_ids_are_dense_ordinals(spark):
    """EXTRACTED_SCHEMA contract: assembled output carries dense 0-based
    span_id regardless of path — the chunked path's offset-rebased ids are
    re-densified at assembly (ADVICE pipeline.py:214), so a mixed
    flagship/chunked table never breaks ordinal consumers."""
    from pyspark.sql import functions as F

    from texteller_spark.plans.pipeline import extract_pages_chunked
    from texteller_spark.sources.pages import pages_df

    out = extract_pages_chunked(pages_df(spark, 12, partitions=2), 800)
    bad = out.select(
        F.exists(
            F.transform("spans", lambda s, i: s["span_id"] == i),
            lambda ok: ~ok,
        ).alias("any_sparse")
    ).filter("any_sparse")
    assert bad.count() == 0


def test_chunked_partition_count_invariance(spark):
    """Chunked extraction output must not depend on the chunk-spread
    partition count (the determinism property the scaling protocol needs)."""
    from texteller_spark.plans.pipeline import extract_pages_chunked
    from texteller_spark.sources.pages import pages_df

    pages = pages_df(spark, 24, partitions=3)
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)

    def texts(p):
        spark.conf.set(key, str(p))
        return {
            r["url"]: r["extracted_text"]
            for r in extract_pages_chunked(pages, 1000).collect()
        }

    try:
        a, b = texts(2), texts(16)
    finally:
        spark.conf.set(key, saved)
    assert a == b
