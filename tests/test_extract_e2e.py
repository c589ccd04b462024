"""End-to-end byte-identity gate: Spark pipelines (both modes) must match
the pure-Python oracle goldens exactly, on every column, across
repartitionings (the analog of test_tipc/compare_results.py but with
exact equality — SURVEY.md §5)."""

import os

import pytest
from pyspark.sql import functions as F

from paddleocr_spark.operators.extract import extract, extract_fused


@pytest.fixture(scope="module")
def pages(spark, smoke_dir):
    return spark.read.parquet(os.path.join(smoke_dir, "pages.parquet"))


@pytest.fixture(scope="module")
def golden(spark, smoke_dir):
    return spark.read.parquet(os.path.join(smoke_dir, "golden.parquet"))


def _assert_full_match(res, golden):
    cols = ["url", "extracted_text", "spans", "n_blocks_detected", "n_blocks_kept"]
    r = res.select(cols)
    g = golden.select(cols)
    assert r.count() == g.count()
    extra = r.exceptAll(g).count()
    missing = g.exceptAll(r).count()
    assert extra == 0 and missing == 0, f"extra={extra} missing={missing}"


def test_array_mode_byte_identical(pages, golden):
    _assert_full_match(extract(pages), golden)


def test_fused_mode_byte_identical(pages, golden):
    _assert_full_match(extract_fused(pages), golden)


def test_partitioning_invariance(pages, golden):
    """Byte-identity must hold regardless of physical partitioning
    (SURVEY.md §7 hard parts: no partition-order dependence)."""
    shuffled = pages.repartition(13, F.xxhash64("url"))
    _assert_full_match(extract(shuffled), golden)


def test_extracted_bytes_roundtrip(pages, golden):
    """Explicit BYTE comparison (utf-8), not just string equality."""
    res = {r["url"]: r["extracted_text"] for r in extract(pages).collect()}
    gold = {r["url"]: r["extracted_text"] for r in golden.collect()}
    assert set(res) == set(gold)
    for url, txt in gold.items():
        assert res[url].encode("utf-8") == txt.encode("utf-8"), url


def test_detect_blocks_match_golden(spark, pages, smoke_dir):
    """Stage-1 intermediate vs golden_blocks (FIXTURES.md §3)."""
    from paddleocr_spark.operators.extract import scored_blocks

    gb = spark.read.parquet(os.path.join(smoke_dir, "golden_blocks.parquet"))
    d = scored_blocks(pages)
    e = d.select("url", F.explode("scored").alias("b")).select(
        "url",
        F.col("b.block_id"),
        F.col("b.start"),
        F.col("b.end"),
        F.col("b.text_len"),
        F.col("b.score"),
    )
    g = gb.select("url", "block_id", "start", "end", "text_len", "score")
    assert e.count() == g.count()
    assert e.exceptAll(g).count() == 0
    assert g.exceptAll(e).count() == 0
