"""The extraction plans: one detect → recognize UDF behind every span.

Spark-first re-expression of the reference's ``mix_inference`` dataflow
(per-document fan-out into spans, per-span recognition, ordered
re-assembly). The flagship is one shuffle-free fused map, page → text:

::

    pages (scan: url, html, …)
      → select(url, extract_udf(html))   # decode → detect → recognize → assemble
      → (url, spans, extracted_text)     # one Arrow round trip per batch

No exchange: extraction needs per-page locality only, which the scan
already provides, so parallelism comes from input split planning
(``spark.sql.files.maxPartitionBytes`` in ``session.py``). The fused
kernel is :func:`extract_page_kernel`; its detect → recognize loop is
:func:`recognize_piece_kernel`.

Every other plan that emits spans runs that loop through ONE UDF,
:data:`recognize_piece_udf` over ``(offset, piece)``, a whole page being
the piece at offset 0: :func:`extract_pages_chunked` (W5) over safe-point
chunks, :func:`span_table` (S5) and ``streaming/stream.py``. All five
extraction UDFs live here and call the plain-Python operator kernels by
this module's names at call time. Lineage counters and resumable
checkpointing live in ``checkpoint.py``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ..operators.assemble import assemble_document
from ..operators.detect import chunk_document, decode_page, detect_document
from ..operators.recognize import recognize_span
from ..schema import CONTENT_SPAN_SCHEMA, SPAN_FIELDS

__all__ = [
    "assemble_stage",
    "extract_pages",
    "extract_pages_chunked",
    "span_table",
]

_SPAN_COLS = tuple(f.name for f in SPAN_FIELDS)


def _assemble_batches(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for spans_col in it:
        yield spans_col.map(assemble_document)


#: scalar pandas UDF: array<struct spans+content> → extracted_text
assemble_udf = pandas_udf(_assemble_batches, returnType=T.StringType())


def assemble_stage(recognized: DataFrame) -> DataFrame:
    """Recognized spans → one row per url with ordered spans + final text.

    ``span_id`` is RE-DENSIFIED to the 0-based position in the sorted array
    (a free ``transform`` — no shuffle), so assembled output always carries
    dense ordinal ids regardless of which path produced the spans: the
    chunked path rebases ids by char offset (sparse but order-preserving),
    and without this a mixed flagship/chunked output table (CLI ``--resume``
    can interleave both) would break consumers that index by ``span_id``.
    """
    # collect_list skips nulls → span-less urls yield spans=[] and text="".
    return (
        recognized.groupBy("url")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("kind").isNotNull(),
                        F.struct(*_SPAN_COLS, "content"),
                    )
                )
            ).alias("spans")
        )
        .withColumn(
            "spans",
            F.transform(
                "spans",
                lambda s, i: F.struct(
                    i.cast("int").alias("span_id"),
                    *[s[c].alias(c) for c in _SPAN_COLS[1:]],
                    s["content"].alias("content"),
                ),
            ),
        )
        .withColumn("extracted_text", assemble_udf(F.col("spans")))
    )


def span_table(pages: DataFrame) -> DataFrame:
    """Exploded recognized spans — the persisted intermediate table analog
    of the reference's crop sink (S5): one row per span.

    The explicit ``repartition(spark.sql.shuffle.partitions, url)`` pins
    parallelism for the UDF stage (AQE's size-based coalescing is blind to
    per-row UDF cost). Width-sorted batching (W4): sorting pages by length
    keeps Arrow batches size-homogeneous (the reference sorts recognition
    crops by aspect ratio for the same reason).
    """
    p = int(pages.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # explode_outer keeps span-less pages (empty/undecodable html) as one
    # all-null span row
    return (
        pages.repartition(p, F.col("url"))
        .sortWithinPartitions(F.length("html"))
        .select(
            "url",
            F.explode_outer(recognize_piece_udf(F.lit(0), F.col("html"))).alias("span"),
        )
        .select("url", "span.*")
    )


_EXTRACT_RESULT = T.StructType(
    [
        T.StructField("spans", T.ArrayType(CONTENT_SPAN_SCHEMA), False),
        T.StructField("extracted_text", T.StringType(), False),
    ]
)


def extract_page_kernel(html) -> tuple[list[dict], str]:
    """The fused per-page kernel: decode → detect → recognize → assemble.

    The whole page is one piece at offset 0 of :func:`recognize_piece_kernel`.
    Fusing the stages into one UDF means ONE Arrow round trip per page
    (html in, spans+text out) instead of one per stage over the full span
    payload.
    """
    recognized = recognize_piece_kernel(decode_page(html), 0)
    return recognized, assemble_document(recognized)


def _extract_batches(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    for html_col in it:
        spans_out, text_out = [], []
        for html in html_col:
            spans, text = extract_page_kernel(html)
            spans_out.append(spans)
            text_out.append(text)
        yield pd.DataFrame({"spans": spans_out, "extracted_text": text_out})


extract_udf = pandas_udf(_extract_batches, returnType=_EXTRACT_RESULT)


def _extract_text_batches(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for html_col in it:
        yield pd.Series([extract_page_kernel(h)[1] for h in html_col])


#: text-only variant: the span payload (raw+content, ≈2× the document) never
#: crosses the worker→JVM Arrow feed — the output-side twin of gzip-stored
#: html for pipelines that only consume ``extracted_text``
extract_text_udf = pandas_udf(_extract_text_batches, returnType=T.StringType())


_CHUNK_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("chunk_id", T.IntegerType(), False),
            T.StructField("off", T.LongType(), False),
            T.StructField("piece", T.StringType(), False),
        ]
    ),
    containsNull=False,
)


def make_chunk_udf(max_chunk_chars: int):
    @pandas_udf(_CHUNK_SCHEMA)
    def chunk_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for html_col in it:
            yield html_col.map(
                lambda b: [
                    {"chunk_id": k, "off": off, "piece": piece}
                    for k, (off, piece) in enumerate(
                        chunk_document(decode_page(b), max_chunk_chars)
                    )
                ]
            )

    return chunk_udf


def recognize_piece_kernel(piece: str, off: int) -> list[dict]:
    """The detect → recognize loop over one decoded piece of a document.

    Char offsets and span/block ids are rebased by the piece's char offset
    ``off`` (monotonic across chunks, so block-equality grouping and span
    ordering match the unchunked scan — int32-safe for documents < 2^31
    chars, enforced by chunk_document). A whole page is the piece at
    offset 0, which skips the rebase."""
    out = []
    for s in detect_document(piece):
        d = s._asdict()
        d["content"] = recognize_span(s.kind, s.raw)
        out.append(d)
    if off:
        for d in out:
            d["span_id"] += off
            d["block_id"] += off
            d["char_start"] += off
            d["char_end"] += off
    return out


def _recognize_piece_batches(
    it: Iterator[tuple[pd.Series, pd.Series]],
) -> Iterator[pd.Series]:
    for off_col, piece_col in it:
        yield pd.Series(
            [recognize_piece_kernel(decode_page(p), int(o)) for o, p in zip(off_col, piece_col)],
            dtype="object",
        )


#: (offset, piece) → recognized spans; a piece is a decoded chunk or raw html
recognize_piece_udf = pandas_udf(
    _recognize_piece_batches, returnType=T.ArrayType(CONTENT_SPAN_SCHEMA)
)


def extract_pages_chunked(pages: DataFrame, max_chunk_chars: int = 1 << 20) -> DataFrame:
    """W5: oversized-document extraction with bounded per-task work.

    The flagship plan (:func:`extract_pages`) maps whole documents — one
    500 MB pathological page is one unbounded task. This variant splits
    each document at SAFE points (block-tag starts outside suppressed /
    math regions — see :func:`texteller_spark.operators.detect.
    safe_split_points`; the byte-domain analog of the reference's sliced
    detection, predict_det.py:198-297) into ≈``max_chunk_chars`` pieces,
    redistributes the pieces across ``spark.sql.shuffle.partitions`` tasks,
    detects+recognizes each piece independently with offsets re-projected,
    and reassembles per url.
    Because spans cannot straddle a safe point, the pixel-domain
    overlap+boundary-dedup machinery degenerates: piece-wise detection is
    EXACT (equivalence property-tested against the unchunked kernel,
    including a ≥64 MiB page).

    Cost: one shuffle to spread chunks + the final groupBy(url) — the right
    trade only when documents are huge; the flagship stays shuffle-free for
    the common case. Documents with no safe point in a stretch (plain text)
    degrade to one chunk for that stretch.
    """
    p = int(pages.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    chunk_udf = make_chunk_udf(max_chunk_chars)
    chunks = (
        pages.select("url", F.explode(chunk_udf(F.col("html"))).alias("c"))
        .select("url", "c.*")
        .repartition(p, F.col("url"), F.col("chunk_id"))
    )
    spans = (
        chunks.select(
            "url",
            F.explode_outer(
                recognize_piece_udf(F.col("off"), F.col("piece"))
            ).alias("span"),
        )
        .select("url", "span.*")
    )
    return assemble_stage(spans)


def extract_pages(pages: DataFrame, include_spans: bool = True) -> DataFrame:
    """Full pipeline: returns (url, spans, extracted_text); with
    ``include_spans=False``, (url, extracted_text) only.

    Doc-granular, SHUFFLE-FREE plan: the whole pipeline is one fused map
    over the scan — extraction needs per-page locality only, which the scan
    already provides.  Parallelism comes from input split planning
    (``spark.sql.files.maxPartitionBytes`` = 32 MB in ``session.py``), not
    from a repartition: shuffling raw html (the widest column in the table)
    costs more than the extraction itself (measured: 23 s to shuffle what
    takes 10 s to extract, at 32 cores / 3 GB).  A caller whose upstream
    layout is genuinely skewed or has too few files repartitions ``pages``
    first.

    (Design echoes the public literature: UDF-pipeline operator fusion
    ["Optimizing UDF Queries in SQL Data Engines", EDBT'26; "ML Inference
    Pipeline Execution Using Operator Fusion", ICDE'25] and the
    partition-only-when-it-pays rule ["To Partition, or Not to Partition",
    SIGMOD'21] — see PAPERS.md.)
    """
    if not include_spans:
        return pages.select(
            "url", extract_text_udf(F.col("html")).alias("extracted_text")
        )
    return pages.select(
        "url", extract_udf(F.col("html")).alias("res")
    ).select("url", "res.spans", "res.extracted_text")
