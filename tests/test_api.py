"""API smoke tests — the test_paddleocr_api.py analog (reference
tests/test_paddleocr_api.py:15-117: engine builds per language;
ocr() / det-only / rec-only calls return typed results)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from paddleocr_spark.api import LANG_PRESETS, Extractor


@pytest.mark.parametrize("lang", sorted(LANG_PRESETS))
def test_engine_builds_per_language(lang):
    e = Extractor(lang=lang)
    assert e.cfg.det_thresh == 0.3


def test_unknown_lang_and_param_fail_fast():
    with pytest.raises(ValueError):
        Extractor(lang="xx")
    with pytest.raises(ValueError):
        Extractor(lang="en", not_a_param=1)
    with pytest.raises(ValueError, match="score_mode"):
        Extractor(lang="en", score_mode="Slow")


def test_full_det_rec_roundtrip_matches_extract(spark, smoke_dir):
    from paddleocr_spark.operators.extract import extract

    pages = spark.read.parquet(os.path.join(smoke_dir, "pages.parquet"))
    engine = Extractor()

    full = engine(pages)
    want = {r["url"]: r["extracted_text"] for r in extract(pages).collect()}
    got = {r["url"]: r["extracted_text"] for r in full.collect()}
    assert got == want and len(got) > 0

    # det-only -> rec-only chain reproduces the fused path byte-for-byte
    det_out = engine(pages, rec=False)
    assert "dets" in det_out.columns and "extracted_text" not in det_out.columns
    rec_out = engine(det_out, det=False)
    got2 = {r["url"]: r["extracted_text"] for r in rec_out.collect()}
    assert got2 == want


def test_threshold_override_changes_kept_blocks(spark, smoke_dir):
    pages = spark.read.parquet(os.path.join(smoke_dir, "pages.parquet"))
    strict = Extractor(det_box_thresh=0.99)(pages, rec=False)
    loose = Extractor(det_box_thresh=0.0)(pages, rec=False)
    n_strict = strict.select(F.sum(F.size("dets"))).collect()[0][0]
    n_loose = loose.select(F.sum(F.size("dets"))).collect()[0][0]
    assert n_strict < n_loose
