"""Spark-level pipeline tests: byte identity e2e, partition invariance,
resumable checkpointing, layering."""

import ast
from pathlib import Path

import pytest

from texteller_spark.plans.checkpoint import resume_pending, stage_metrics, write_extracted
from texteller_spark.plans.pipeline import extract_pages
from texteller_spark.schema import PAGES_SCHEMA
from texteller_spark.sources.pages import expected_extraction, pages_df, tiny_corpus


@pytest.fixture(scope="module")
def tiny_df(spark):
    rows = [
        (p["url"], p["warc_ts"].replace(tzinfo=None), p["html"], p["text"], p["lang"])
        for p in tiny_corpus()
    ]
    return spark.createDataFrame(rows, PAGES_SCHEMA).cache()


def test_extract_byte_identity(spark, tiny_df):
    got = {r["url"]: r["extracted_text"] for r in extract_pages(tiny_df).collect()}
    corpus = tiny_corpus()
    assert len(got) == len(corpus)
    for p in corpus:
        _, exp_text = expected_extraction(p["_blocks"])
        assert got[p["url"]] == exp_text, p["url"]


def test_partition_count_invariance(spark, tiny_df):
    """Output is independent of parallelism — the determinism property the
    N→4N scaling contract relies on."""
    a = {r["url"]: r["extracted_text"] for r in extract_pages(tiny_df.repartition(2)).collect()}
    b = {r["url"]: r["extracted_text"] for r in extract_pages(tiny_df.repartition(16)).collect()}
    assert a == b


def test_spans_schema_stable(spark, tiny_df):
    out = extract_pages(tiny_df)
    assert [f.name for f in out.schema.fields] == ["url", "spans", "extracted_text"]
    span_fields = [f.name for f in out.schema["spans"].dataType.elementType.fields]
    assert span_fields == [
        "span_id", "block_id", "kind", "char_start", "char_end",
        "confidence", "raw", "content",
    ]


def test_distributed_generator_matches_local(spark):
    df = pages_df(spark, 30, partitions=4)
    rows = {r["url"]: r for r in df.collect()}
    assert len(rows) == 30
    from texteller_spark.sources.pages import synth_page

    for i in (0, 7, 29):
        local = synth_page(i)
        row = rows[local["url"]]
        assert bytes(row["html"]) == local["html"]
        assert row["lang"] == local["lang"]


def test_resume_anti_join(spark, tiny_df, tmp_path):
    out_dir = str(tmp_path / "out")
    first = extract_pages(tiny_df.limit(5))
    write_extracted(first, out_dir, run_id="r1")
    pending = resume_pending(tiny_df, out_dir)
    assert pending.count() == tiny_df.count() - 5
    # completing the run leaves nothing pending
    write_extracted(extract_pages(pending), out_dir, run_id="r2")
    assert resume_pending(tiny_df, out_dir).count() == 0
    # metrics table exists with per-partition counters
    m = spark.read.parquet(f"{out_dir}/_metrics")
    assert m.count() > 0
    assert set(m.columns) == {"stage", "partition_id", "n_rows", "n_bytes"}


def test_stage_metrics_counts(spark, tiny_df):
    m = stage_metrics(tiny_df, "scan", bytes_col="html").collect()
    assert sum(r["n_rows"] for r in m) == tiny_df.count()
    assert all(r["stage"] == "scan" for r in m)


def test_extract_pages_text_only(spark, tiny_df):
    from texteller_spark.plans.pipeline import extract_pages

    full = {r["url"]: r["extracted_text"] for r in extract_pages(tiny_df).collect()}
    slim = {
        r["url"]: r["extracted_text"]
        for r in extract_pages(tiny_df, include_spans=False).collect()
    }
    assert slim == full  # byte-identical text, spans simply omitted
    cols = extract_pages(tiny_df, include_spans=False).columns
    assert cols == ["url", "extracted_text"]


def test_operator_kernels_import_no_spark_or_pandas():
    """detect / recognize / assemble are plain kernels: every Spark UDF that
    calls them lives in ``plans/pipeline.py``."""
    import texteller_spark.operators as ops

    for name in ("detect", "recognize", "assemble"):
        tree = ast.parse((Path(ops.__file__).parent / f"{name}.py").read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
            else:
                continue
            bad = [m for m in mods if m.split(".")[0] in ("pyspark", "pandas")]
            assert not bad, f"operators/{name}.py imports {bad}"
